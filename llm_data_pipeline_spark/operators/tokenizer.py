"""Tokenize stage: corpus-trained vocab + document encoding (C15/C16, M1).

Reference parity (SURVEY.md §2.3 C15-C16, §2.8 M1; reference
tokenizer/run.py:320-338 encode, tokenizer/run.py:51-67 EOS resolution,
tokenizer/train.py:90-264 SentencePiece training):

- The reference trains a SentencePiece BPE model on the cleaned corpus and
  encodes each document to ``input_ids``. SentencePiece is not available in
  this environment, so the default tokenizer here is a **word-level trained
  vocabulary**: token ids are assigned by corpus frequency rank — the same
  train-then-encode contract, fully relational, deterministic, and
  oracle-checkable in ANSI SQL. The real SentencePiece path is kept behind
  an import-try (``encode_sentencepiece``) with the identical mapInPandas
  per-executor-singleton shape the reference's actor pool used.
- Special ids match the reference SPM config (tokenizer/train.py:341-349):
  unk=0, bos=1, eos=2, pad=3.

Scale design (100 TB):

- Vocab training is groupBy(token).count() + a window over the *distinct
  token set* (vocabulary-sized, millions at most — not corpus-sized), so the
  single-partition ranking window touches only the candidate vocab rows.
- Encoding has two physical strategies with identical semantics:
  * ``encode_via_join`` — explode + broadcast hash join against the vocab.
    Pure relational; the vocab (<= vocab_size rows) is always broadcast, so
    the join adds no shuffle; the per-doc re-assembly groupBy shuffles
    token rows once, keyed by doc (well distributed).
  * ``encode_via_udf`` — broadcast the vocab as a python dict into an
    Arrow-batched pandas UDF; zero shuffle, the scale path for wide
    pipelines where the tokens never need to be relational rows.
  Tests assert both produce identical ids.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Explicit ASCII whitespace class (NOT \s: Java and RE2 disagree on \x0B),
# so Spark (Java regex) and DuckDB (RE2) tokenize identically.
TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\r\n\f]"

UNK_ID, BOS_ID, EOS_ID, PAD_ID = 0, 1, 2, 3
N_SPECIAL = 4


def tokenize_words(col: F.Column) -> F.Column:
    """Split text into word / single-punctuation tokens (array<string>)."""
    return F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0)


def train_word_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 32000,
) -> DataFrame:
    """Train a frequency-ranked word vocabulary: (token, id, freq).

    Ids start at N_SPECIAL; rank order is (count DESC, token ASC) — a total
    order, so training is deterministic regardless of partitioning. The
    ranking window runs over distinct tokens only (vocab-candidate-sized).
    """
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode(tokenize_words(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return (
        counts.withColumn("id", F.row_number().over(w) - 1 + N_SPECIAL)
        .filter(F.col("id") < vocab_size)
        .select("token", "id", "freq")
    )


def encode_via_join(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode text -> input_ids with an explode + broadcast-join lookup.

    OOV tokens map to UNK_ID. Documents whose text yields zero tokens get an
    empty input_ids array (the packer skips them, matching the reference's
    ``if not ids: continue``, tokenizer/run.py:153-154).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(tokenize_words(F.col(text_col))).alias("pos", "token"),
    )
    enc = toks.join(F.broadcast(vocab.select("token", "id")), "token", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("id"), F.lit(UNK_ID)).alias("id"),
    )
    return enc.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("pos").isNotNull(), F.struct("pos", "id"))
                )
            ),
            lambda s: s["id"],
        ).alias("input_ids")
    )


def encode_via_udf(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode text -> input_ids with a broadcast-dict pandas UDF (no shuffle).

    Semantically identical to encode_via_join; physically a narrow map: the
    vocab dict rides a Spark broadcast variable, tokenization happens in
    Arrow batches. Preferred when the token rows never need to be relational.
    """
    import re

    from pyspark.sql.types import ArrayType, IntegerType

    spark = df.sparkSession
    vocab_map = {r["token"]: r["id"] for r in vocab.select("token", "id").collect()}
    bc = spark.sparkContext.broadcast(vocab_map)
    pat = re.compile(TOKEN_PATTERN)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _encode(texts: pd.Series) -> pd.Series:
        vm = bc.value
        return texts.map(
            lambda t: [vm.get(tok, UNK_ID) for tok in pat.findall(t or "")]
        )

    return df.select(F.col(id_col), _encode(F.col(text_col)).alias("input_ids"))


def encode_sentencepiece(
    df: DataFrame,
    model_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Real SentencePiece encoding (C15) — gated on the library being present.

    Mirrors the reference's per-worker model singleton
    (tokenizer/run.py:32-48) as a per-executor lazy global inside
    mapInPandas. STUB in this environment: sentencepiece is not installed,
    so calling this raises unless the library is available.
    """
    try:
        import sentencepiece  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "sentencepiece is not installed in this environment; "
            "use train_word_vocab + encode_via_join/encode_via_udf instead"
        ) from exc

    from pyspark.sql.types import (  # pragma: no cover
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(  # pragma: no cover
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("input_ids", ArrayType(IntegerType())),
        ]
    )

    def _encode_batches(batches):  # pragma: no cover
        import sentencepiece as spm

        global _SPM_SINGLETON
        try:
            sp = _SPM_SINGLETON
        except NameError:
            sp = spm.SentencePieceProcessor(model_file=model_path)
            _SPM_SINGLETON = sp
        for pdf in batches:
            out = pdf[[id_col]].copy()
            out["input_ids"] = sp.encode(pdf[text_col].fillna("").tolist())
            yield out

    return df.select(id_col, text_col).mapInPandas(_encode_batches, schema)


def compare_tokenizers(
    df: DataFrame,
    vocab_a: DataFrame,
    vocab_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Tokenizer comparison benchmark (M2; reference tokenizer/compare.py:
    76-181): encode the same corpus with two vocabularies, report token
    totals, tokens/doc, OOV rates, and relative token saving."""
    import time

    out: dict[str, dict] = {}
    for name, vocab in (("a", vocab_a), ("b", vocab_b)):
        t0 = time.perf_counter()
        enc = encode_via_udf(df, vocab, text_col, id_col)
        stats = enc.select(
            F.count("*").alias("docs"),
            F.sum(F.size("input_ids")).alias("tokens"),
            F.sum(F.size(F.filter("input_ids", lambda x: x == UNK_ID))).alias(
                "oov"
            ),
        ).first()
        elapsed = time.perf_counter() - t0
        tokens = int(stats["tokens"] or 0)
        out[name] = {
            "docs": int(stats["docs"]),
            "total_tokens": tokens,
            "tokens_per_doc": round(tokens / max(1, stats["docs"]), 2),
            "oov_rate": round((stats["oov"] or 0) / max(1, tokens), 6),
            "elapsed_s": round(elapsed, 3),
            "tokens_per_s": round(tokens / max(elapsed, 1e-9)),
        }
    ta, tb = out["a"]["total_tokens"], out["b"]["total_tokens"]
    out["token_saving_a_vs_b"] = round(1 - ta / tb, 6) if tb else 0.0
    return out
