"""DSIR-style data selection via hashed n-gram importance weights.

The public DSIR recipe (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling") selects pretraining documents whose
hashed n-gram distribution looks like a small trusted target set: fit two
bag-of-hashed-ngrams generative models (target vs raw), weight every raw
document by its log importance ratio, and keep the highest-weighted docs.
The reference pipeline has no such operator; this is one of the
engine-native curation additions (SURVEY.md §2 extension set, alongside
decontamination / mixing / temperature sampling in operators/curation.py).

Scale shape (the part that matters at 100 TB):
- feature extraction is a per-doc explode of unigrams + bigrams hashed
  into ``n_buckets`` buckets — linear, no UDF, whole-stage codegen;
- both "models" are a single groupBy over the bucket id, so model size is
  ``n_buckets`` rows (default 10k) regardless of corpus size;
- scoring is a broadcast join of the 10k-row log-ratio table against the
  per-doc bucket counts followed by one sum — no shuffle on the corpus
  beyond the per-doc count aggregate;
- selection is a global top-k (orderBy + limit; at extreme k swap for an
  approximate threshold from a sampled quantile, same plan otherwise).

Determinism contract (same as lm_score): the per-bucket
log-ratio is quantized to integer micro-units (round(ln(r)*1e6) as int64)
BEFORE aggregation; the per-doc score is then an exact int64 sum —
order-independent — and the division back to a float happens once at the
end. The single ``ln`` input is one IEEE double division of exactly
representable products, so DuckDB replays the weight table bit-for-bit.

Smoothing: add-one on bucket counts with ``n_buckets`` added to the
totals (Laplace over the hashed vocabulary), i.e.

    lr(b) = ln( ((ct_b + 1) * (Tr + B)) / ((cr_b + 1) * (Tt + B)) )

with ct/cr the target/raw counts of bucket b, Tt/Tr the total feature
masses and B = n_buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.hashing import portable_hash60
from llm_data_pipeline_spark.functions.text import norm_ws
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage

DEFAULT_BUCKETS = 10_000
DEFAULT_SALT = "dsir-v1:"


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


def dsir_importance_scores(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    salt: str = DEFAULT_SALT,
) -> DataFrame:
    """Append ``score_micro`` (int64 log importance weight in micro-units)
    and ``n_feats`` to every row of ``df``.

    ``target`` needs the same ``text_col``; it is typically tiny (a
    trusted/benchmark slice) — its count pass is cheap and its model is
    bucket-bounded either way. Docs with no tokens get score 0 (weight 1,
    the neutral element — an empty doc is evidence for neither model).
    """
    doc_counts = _doc_bucket_counts(
        df, text_col, id_col, n_buckets, salt
    ).transform(cut_lineage, eager=False)
    raw = doc_counts.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tgt = (
        _doc_bucket_counts(target, text_col, id_col, n_buckets, salt)
        .groupBy("bucket")
        .agg(F.sum("c").alias("ct"))
    )
    totals = raw.agg(F.sum("cr").alias("tr")).crossJoin(
        tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
    )
    b = float(n_buckets)
    log_ratio = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast("double")
                        * (F.col("tr") + F.lit(b))
                    )
                    / (
                        (F.col("cr") + F.lit(1)).cast("double")
                        * (F.col("tt") + F.lit(b))
                    )
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    per_doc = (
        doc_counts.join(F.broadcast(log_ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("lr_micro")).alias("score_micro"),
            F.sum("c").alias("n_feats"),
        )
    )
    return df.join(
        per_doc.select(
            F.col("doc_id").alias(id_col), "score_micro", "n_feats"
        ),
        id_col,
        "left",
    ).fillna({"score_micro": 0, "n_feats": 0})


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    salt: str = DEFAULT_SALT,
) -> DataFrame:
    """Top-``k`` rows of ``df`` by DSIR importance weight (ties broken by
    id for a fully deterministic selection)."""
    scored = dsir_importance_scores(
        df, target, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, salt=salt,
    )
    return scored.orderBy(F.col("score_micro").desc(), F.col(id_col)).limit(k)
