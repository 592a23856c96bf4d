"""MinHash signatures, Spark-first.

Pipeline parity: reference dedup/minhash.py:16-125 + dedup/run_minhash.py
(k=128, seed=42, 5-gram char shingles). Re-architected for Spark:

- **Shingling and base hashing stay in the JVM**: normalize once, then
  distinct 5-gram substrings with higher-order array functions, then a
  per-shingle hash (``xxhash64`` by default) — no Python, no shuffle.
- **Permutation-min runs in numpy** via an Arrow-batched pandas UDF over the
  per-row hash arrays: ``min_j (h_j * a_i + b_i) mod 2^64`` for k=128
  permutation pairs. uint64 wraparound == Java long overflow bit-patterns,
  and signatures are stored as signed int64 (two's-complement
  reinterpretation — equality of band slices is all downstream needs,
  SURVEY.md §1.3).

Cost model. :func:`add_shingles` projects ``norm_ws(text)`` as its own
``_norm`` column before :func:`shingles` reads it. An expression passed
into the ``transform`` lambda is inlined per element, so an inline
normalize re-ran ``lower`` + ``regexp_replace`` over the whole document
once per shingle position (O(len²) a document). The staged column is
referenced several times by the shingling expression, so CollapseProject
keeps the projection boundary and each document is normalized once
(guarded by tests/test_plans.py). What remains super-linear is
``substring``, which is O(position) on UTF-8: on 4 vCPU the signer ran at
377k chars/s on 1.8k-char documents and 177k chars/s on 6k-char documents
(41k and 12k chars/s with the inline normalize). A linear formulation is
a separate item.

Not bit-compatible with the reference (Spark's xxhash64 uses seed 42 over
UTF-8 bytes; the reference hashes with python-xxhash seed 0) — parity is
semantic: same shingle definition, same permutation family, same seed for
the (a, b) parameters, same empty-text zero signature. Graded queries pass
``hash_fn=functions.hashing.portable_hash60`` so DuckDB can replay the
identical values.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from llm_data_pipeline_spark.functions.text import norm_ws

DEFAULT_K = 128
DEFAULT_SEED = 42
DEFAULT_NGRAM = 5


def _perm_params(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Universal-hash permutation parameters: k pairs (a odd, b) over the
    full uint64 range, derived from two 32-bit draws for numpy-version
    stability (matches the reference's construction recipe)."""
    rng = np.random.RandomState(seed)
    a = (rng.randint(0, 2**32, size=k, dtype=np.uint64) << np.uint64(32)) | rng.randint(
        0, 2**32, size=k, dtype=np.uint64
    )
    a |= np.uint64(1)
    b = (rng.randint(0, 2**32, size=k, dtype=np.uint64) << np.uint64(32)) | rng.randint(
        0, 2**32, size=k, dtype=np.uint64
    )
    return a, b


def shingles(norm: Column, ngram: int = DEFAULT_NGRAM) -> Column:
    """array<string> of the distinct char n-gram shingles of ``norm``.

    ``norm`` must reference an already-normalized, staged column (see
    :func:`add_shingles`), not an expression: it is read inside the
    ``transform`` lambda, once per shingle position. Text shorter than
    ``ngram`` is its own single shingle."""
    return F.when(F.length(norm) < ngram, F.array(norm)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.length(norm) - ngram),
                lambda i: F.substring(norm, i + 1, F.lit(ngram)),
            )
        )
    )


def add_shingles(
    df: DataFrame, text_col: str = "text", ngram: int = DEFAULT_NGRAM
) -> DataFrame:
    """Append ``length`` (chars of the raw text), ``_empty`` (raw text is
    blank after trimming spaces) and ``_sh`` (:func:`shingles` of the
    normalized text). The normalized text is staged as ``_norm`` and
    dropped again, so the output schema is the input's plus those three."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    return (
        df.withColumn("length", F.length(text))
        .withColumn("_empty", F.length(F.trim(text)) == 0)
        .withColumn("_norm", norm_ws(text))
        .withColumn("_sh", shingles(F.col("_norm"), ngram))
        .drop("_norm")
    )


def make_signature_udf(k: int = DEFAULT_K, seed: int = DEFAULT_SEED):
    """pandas UDF: array<long> hashes -> array<long> signature (len k)."""
    a, b = _perm_params(k, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def signature(hashes: pd.Series) -> pd.Series:
        out = []
        for hs in hashes:
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            if h.size == 0:
                out.append(np.zeros(k, dtype=np.int64))
                continue
            # (N, 1) * (k,) broadcast; uint64 arithmetic wraps mod 2^64.
            m = h.reshape(-1, 1) * a + b
            out.append(m.min(axis=0).view(np.int64))
        return pd.Series(out)

    return signature


def minhash_signature(
    sh: Column,
    empty: Column,
    k: int = DEFAULT_K,
    seed: int = DEFAULT_SEED,
    hash_fn=None,
) -> Column:
    """array<long> MinHash signature of the shingle array ``sh``; the
    all-zero signature where ``empty`` holds (reference
    dedup/minhash.py:92-96). ``hash_fn`` maps a string Column to a long
    Column; default xxhash64."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    zero = F.array_repeat(F.lit(0).cast("long"), k)
    # wrapper lambda: builtins like xxhash64 are *args functions, which the
    # higher-order-function bridge rejects as lambda bodies
    hashes = F.transform(sh, lambda s: hash_fn(s))
    return F.when(empty, zero).otherwise(make_signature_udf(k, seed)(hashes))


def add_minhash(
    df: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_K,
    seed: int = DEFAULT_SEED,
    ngram: int = DEFAULT_NGRAM,
    signature_col: str = "signature",
    hash_fn=None,
) -> DataFrame:
    """Append ``signature: array<long>`` (k values) and ``length: int``.

    Empty/null text gets the all-zero signature. ``hash_fn`` selects the
    shingle hash family (see :func:`minhash_signature`)."""
    return (
        add_shingles(df, text_col, ngram)
        .withColumn(
            signature_col,
            minhash_signature(
                F.col("_sh"), F.col("_empty"), k, seed, hash_fn
            ),
        )
        .drop("_sh", "_empty")
    )


def jaccard_estimate(sig_a: list[int], sig_b: list[int]) -> float:
    """Driver-side helper: fraction of equal signature positions."""
    assert len(sig_a) == len(sig_b) and sig_a
    eq = sum(1 for x, y in zip(sig_a, sig_b) if x == y)
    return eq / len(sig_a)
