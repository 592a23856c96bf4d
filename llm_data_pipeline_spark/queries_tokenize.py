"""Graded queries: tokenizer training, encoding, and sequence packing.

Covers SURVEY.md §2 C15/C16 (encode, EOS), M1 (train-then-encode contract),
T1/T2 (ConstantLengthDataset packing + segment metadata), T3 (meta counts).

The oracle reconstructs the packer *relationally* in ANSI SQL (explode ->
global row_number -> integer-division chunk assignment), i.e. it is an
independent re-derivation of the reference's sequential carry-over fold
(tokenizer/run.py:109-214) — if the Spark prefix-sum plan and the SQL
window plan agree on every chunk's content checksum and run structure, the
packing is order-exact.

Chunk content is compared via scalar summaries (first/last token, weighted
position checksum, segment-run checksum) rather than raw arrays so the
driver's column-sorted value hash is well-defined.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_data_pipeline_spark.operators.packing import pack_chunks
from llm_data_pipeline_spark.operators.tokenizer import (
    TOKEN_PATTERN,
    encode_via_join,
    encode_via_udf,
    train_word_vocab,
)
from llm_data_pipeline_spark.queries import query, table

# The synthetic corpus has only ~31 distinct tokens; cap the vocab below
# that so the OOV/unk path is actually exercised by the graded queries.
VOCAB_SIZE = 20
SEQ_LEN = 512

# pid-suffixed (concurrent-session isolation), removed at process exit
_BIN_EXPORT_DIR = os.path.join(
    tempfile.gettempdir(), f"llm_dp_spark_bin_export_{os.getpid()}"
)

import atexit  # noqa: E402
import shutil  # noqa: E402
from llm_data_pipeline_spark.functions.localframe import local_df

atexit.register(shutil.rmtree, _BIN_EXPORT_DIR, ignore_errors=True)

# Shared SQL fragments -------------------------------------------------------

_SQL_PRELUDE = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{TOKEN_PATTERN}') AS tl
  FROM documents
),
flat AS (
  SELECT doc_id, i, tl[i + 1] AS tok
  FROM toks, unnest(range(len(tl))) t(i)
),
vocab AS (
  SELECT tok, id FROM (
    SELECT tok,
           row_number() OVER (ORDER BY count(*) DESC, tok) + 3 AS id,
           count(*) AS freq
    FROM flat GROUP BY tok
  ) WHERE id < {{vocab_size}}
),
enc AS (
  SELECT f.doc_id, f.i, COALESCE(v.id, 0) AS id
  FROM flat f LEFT JOIN vocab v USING (tok)
)
"""


def _ids_weighted_checksum(ids: F.Column) -> F.Column:
    """sum((pos+1) * id) over an id array — pins content AND order."""
    return F.aggregate(
        F.zip_with(
            ids,
            F.sequence(F.lit(1), F.size(ids)),
            lambda x, i: x.cast("long") * i,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@query(
    "tokenizer_train_vocab",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{TOKEN_PATTERN}') AS tl
  FROM documents
),
flat AS (
  SELECT tl[i + 1] AS tok FROM toks, unnest(range(len(tl))) t(i)
)
SELECT tok AS token, CAST(id AS BIGINT) AS id, CAST(freq AS BIGINT) AS freq
FROM (
  SELECT tok,
         row_number() OVER (ORDER BY count(*) DESC, tok) + 3 AS id,
         count(*) AS freq
  FROM flat GROUP BY tok
) WHERE id < 104
ORDER BY id
""",
    tags=("tokenize", "vocab", "train"),
)
def tokenizer_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 frequency-ranked vocabulary (M1 analog: train on corpus)."""
    docs = table(spark, sf_dir, "documents")
    return (
        train_word_vocab(docs, vocab_size=104)
        .select("token", F.col("id").cast("long").alias("id"), "freq")
        .orderBy("id")
    )


@query(
    "tokenize_encode_docs",
    oracle=_SQL_PRELUDE.format(vocab_size=VOCAB_SIZE) + """
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE e.id = 0) AS BIGINT) AS n_unk,
       CAST(sum((e.i + 1) * e.id) AS BIGINT) AS ids_checksum
FROM enc e
GROUP BY e.doc_id
ORDER BY e.doc_id
""",
    tags=("tokenize", "encode"),
)
def tokenize_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document against the trained vocab (C15 analog).

    Output is a per-doc summary of the id sequence (count, OOV count,
    position-weighted checksum) — a scalar projection of input_ids that
    still pins exact ids and their order.
    """
    docs = table(spark, sf_dir, "documents")
    vocab = train_word_vocab(docs, vocab_size=VOCAB_SIZE)
    enc = encode_via_join(docs, vocab)
    return (
        enc.select(
            "doc_id",
            F.size("input_ids").cast("long").alias("n_tokens"),
            F.size(F.filter("input_ids", lambda x: x == 0))
            .cast("long")
            .alias("n_unk"),
            _ids_weighted_checksum(F.col("input_ids")).alias("ids_checksum"),
        )
        .filter(F.col("n_tokens") > 0)
        .orderBy("doc_id")
    )


@query(
    "pack_constant_length",
    oracle=_SQL_PRELUDE.format(vocab_size=VOCAB_SIZE) + f"""
, witheos AS (
  SELECT doc_id, i, id FROM enc
  UNION ALL
  SELECT doc_id, len(tl) AS i, 2 AS id FROM toks WHERE len(tl) > 0
),
ordered AS (
  SELECT id,
         row_number() OVER (ORDER BY doc_id, i) - 1 AS goff,
         dense_rank() OVER (ORDER BY doc_id) - 1 AS sid
  FROM witheos
),
chunked AS (
  SELECT goff // {SEQ_LEN} AS chunk_id, goff % {SEQ_LEN} AS cpos, id, sid
  FROM ordered
  WHERE goff < ((SELECT count(*) FROM witheos) // {SEQ_LEN}) * {SEQ_LEN}
),
seg_ranked AS (
  SELECT chunk_id, seg_len,
         row_number() OVER (PARTITION BY chunk_id ORDER BY seg_pos) AS seg_idx
  FROM (
    SELECT chunk_id, sid, count(*) AS seg_len, min(cpos) AS seg_pos
    FROM chunked GROUP BY chunk_id, sid
  )
),
chunk_stats AS (
  SELECT chunk_id,
         CAST(min_by(id, cpos) AS BIGINT) AS first_id,
         CAST(max_by(id, cpos) AS BIGINT) AS last_id,
         CAST(sum((cpos + 1) * id) AS BIGINT) AS ids_checksum
  FROM chunked GROUP BY chunk_id
),
seg_stats AS (
  SELECT chunk_id,
         CAST(count(*) AS BIGINT) AS n_segments,
         CAST(sum(seg_idx * seg_len) AS BIGINT) AS seg_checksum
  FROM seg_ranked GROUP BY chunk_id
)
SELECT c.chunk_id, c.first_id, c.last_id, c.ids_checksum,
       s.n_segments, s.seg_checksum
FROM chunk_stats c JOIN seg_stats s USING (chunk_id)
ORDER BY c.chunk_id
""",
    tags=("tokenize", "pack", "order-sensitive"),
)
def pack_constant_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConstantLengthDataset parity (T1/T2): pack docs into 512-token chunks.

    The Spark side runs the real distributed packer (prefix-sum chunk
    assignment, native array slicing) and summarizes each produced chunk;
    the oracle re-derives the same chunks from first principles in SQL.
    """
    docs = table(spark, sf_dir, "documents")
    vocab = train_word_vocab(docs, vocab_size=VOCAB_SIZE)
    # Zero-shuffle encode (broadcast-dict UDF): tokens never become rows, so
    # the only shuffles left are the packer's own. encode_via_join has its
    # dedicated correctness query; both encoders are equivalence-tested.
    enc = encode_via_udf(docs, vocab)
    chunks = pack_chunks(
        enc, seq_len=SEQ_LEN, eos_id=2, add_eos=True, ensure_eos=True,
        drop_remainder=True, order_col="doc_id",
    )
    seg_checksum = F.aggregate(
        F.zip_with(
            F.col("seq_lens"),
            F.sequence(F.lit(1), F.size("seq_lens")),
            lambda x, i: x.cast("long") * i,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return chunks.select(
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.element_at("input_ids", 1).cast("long").alias("first_id"),
        F.element_at("input_ids", -1).cast("long").alias("last_id"),
        _ids_weighted_checksum(F.col("input_ids")).alias("ids_checksum"),
        F.size("seq_lens").cast("long").alias("n_segments"),
        seg_checksum.alias("seg_checksum"),
    ).orderBy("chunk_id")


# ---------------------------------------------------------------------------
# BPE (subword) tokenizer — M1 parity with the reference's SentencePiece BPE
# ---------------------------------------------------------------------------
#
# BPE merge learning is a sequential global-argmax loop — not expressible in
# ANSI SQL. The oracle is therefore a PINNED GOLDEN computed by an
# independent pipeline (DuckDB word counts + the naive full-recount trainer
# + pure-Python encode; see scripts/gen_bpe_golden.py), dispatched on the
# corpus fingerprint sum(length(text)) so the same SQL string grades
# correctly against sf0.001 / sf0.01 / sf0.1. The Spark side runs the real
# engine path: distributed word counts, the incremental indexed trainer,
# and the broadcast Arrow-UDF encoder.

BPE_N_MERGES = 1000  # reference-scale ask; training stops when pairs exhaust
BPE_MIN_PAIR_FREQ = 2
BPE_MIN_WORD_FREQ = 2  # hapax pushdown: bounds the driver collect (bpe.py)
# Byte-fallback fixture: whitespace words mixing corpus-charset text with
# characters the corpus never contains (accented latin, CJK, digits,
# punctuation, caps) — their UTF-8 bytes must encode via <0xXX> pieces.
BPE_FIXTURE_TEXT = "data naïve café zèbre 中文数据 Q42 x_9!"

_BPE_GOLDEN_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "bpe_golden.json"
)
with open(_BPE_GOLDEN_PATH) as _f:
    _BPE_GOLDEN = json.load(_f)

_SIG_SQL = "(SELECT sum(length(text)) FROM documents)"


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _bpe_merges_oracle() -> str:
    arms = []
    for sig, g in _BPE_GOLDEN.items():
        values = ", ".join(
            f"({r} , {_sql_str(a)}, {_sql_str(b)}, {_sql_str(m)})"
            for r, a, b, m in g["merges"]
        )
        arms.append(
            f"SELECT CAST(v.merge_rank AS BIGINT) AS merge_rank, v.lhs, "
            f"v.rhs, v.merged FROM (VALUES {values}) "
            f"v(merge_rank, lhs, rhs, merged) WHERE {_SIG_SQL} = {sig}"
        )
    return "\nUNION ALL\n".join(arms) + "\nORDER BY merge_rank"


def _bpe_encode_oracle() -> str:
    arms = []
    for sig, g in _BPE_GOLDEN.items():
        values = ", ".join(
            f"({n}, {d}, {s})" for n, d, s in g["encode_dist"]
        )
        arms.append(
            "SELECT CAST(v.n_tokens AS BIGINT) AS n_tokens, "
            "CAST(v.n_docs AS BIGINT) AS n_docs, "
            "CAST(v.ids_sum AS BIGINT) AS ids_sum "
            f"FROM (VALUES {values}) v(n_tokens, n_docs, ids_sum) "
            f"WHERE {_SIG_SQL} = {sig}"
        )
    return "\nUNION ALL\n".join(arms) + "\nORDER BY n_tokens"


def _bpe_fixture_oracle() -> str:
    arms = []
    for sig, g in _BPE_GOLDEN.items():
        values = ", ".join(
            f"({p}, {i})" for p, i in enumerate(g["fixture_ids"])
        )
        arms.append(
            "SELECT CAST(v.pos AS BIGINT) AS pos, "
            "CAST(v.piece_id AS BIGINT) AS piece_id "
            f"FROM (VALUES {values}) v(pos, piece_id) "
            f"WHERE {_SIG_SQL} = {sig}"
        )
    return "\nUNION ALL\n".join(arms) + "\nORDER BY pos"


@query(
    "bpe_train_merges",
    oracle=_bpe_merges_oracle(),
    tags=("tokenize", "bpe", "train", "pinned-golden"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn BPE merge rules on the corpus (M1: SentencePiece-BPE parity).

    Distributed word counts -> driver-side incremental merge learning; the
    pinned oracle was produced by the independent naive trainer.
    """
    from llm_data_pipeline_spark.operators.bpe import train_bpe

    docs = table(spark, sf_dir, "documents")
    _, merges, _ = train_bpe(
        docs, n_merges=BPE_N_MERGES, min_pair_freq=BPE_MIN_PAIR_FREQ,
        min_word_freq=BPE_MIN_WORD_FREQ,
    )
    return local_df(spark, 
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        schema="merge_rank bigint, lhs string, rhs string, merged string",
    ).orderBy("merge_rank")


@query(
    "bpe_encode_distribution",
    oracle=_bpe_encode_oracle(),
    tags=("tokenize", "bpe", "encode", "pinned-golden"),
)
def bpe_encode_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every doc with the trained BPE and pin the token-count
    distribution + per-group id sums (scale-independent output size)."""
    from llm_data_pipeline_spark.operators.bpe import encode_bpe, train_bpe

    docs = table(spark, sf_dir, "documents")
    _, merges, vocab = train_bpe(
        docs, n_merges=BPE_N_MERGES, min_pair_freq=BPE_MIN_PAIR_FREQ,
        min_word_freq=BPE_MIN_WORD_FREQ,
    )
    enc = encode_bpe(docs, merges, vocab)
    ids_sum = F.aggregate(
        "input_ids", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
    )
    return (
        enc.select(
            F.size("input_ids").cast("long").alias("n_tokens"),
            ids_sum.alias("doc_ids_sum"),
        )
        .groupBy("n_tokens")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_ids_sum").alias("ids_sum"),
        )
        .orderBy("n_tokens")
    )


@query(
    "bpe_byte_fallback_encode",
    oracle=_bpe_fixture_oracle(),
    tags=("tokenize", "bpe", "encode", "byte-fallback", "pinned-golden"),
)
def bpe_byte_fallback_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode a fixture doc whose characters the corpus never contains
    (accented latin, CJK, digits, caps, punctuation) with the
    corpus-trained BPE: every unseen symbol must resolve to its UTF-8
    <0xXX> byte pieces (reference SPM byte_fallback=True,
    tokenizer/train.py:117) — the exact (pos, piece_id) sequence is
    pinned by the golden, so an UNK anywhere or an id off by one breaks
    the match."""
    from llm_data_pipeline_spark.operators.bpe import encode_bpe, train_bpe

    docs = table(spark, sf_dir, "documents")
    _, merges, vocab = train_bpe(
        docs, n_merges=BPE_N_MERGES, min_pair_freq=BPE_MIN_PAIR_FREQ,
        min_word_freq=BPE_MIN_WORD_FREQ,
    )
    fix = local_df(spark, 
        [(0, BPE_FIXTURE_TEXT)], "doc_id long, text string"
    )
    enc = encode_bpe(fix, merges, vocab)
    return (
        enc.select(F.posexplode("input_ids").alias("pos", "piece_id"))
        .select(
            F.col("pos").cast("long").alias("pos"),
            F.col("piece_id").cast("long").alias("piece_id"),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# Reference-scale trainer: 8192 merges (the reference trains vocab 32000,
# tokenizer/train.py:342; this grades the trainer's merge-scale story, the
# small corpora above exhaust their pairs after ~100 merges)
# ---------------------------------------------------------------------------
#
# Corpus: an in-plan synthetic Zipf word stream over doc_id < 50 (present at
# every sf, so the query and its one pinned golden are SF-independent):
#   pool word j = md5(str(j))[:20], j in [0, 6400)
#   doc d draws k in [0, 320): u = (d*131071 + k*8191) % 6400,
#                              j = (u*u) // 6400   (quadratic => Zipf-ish)
# 1683 distinct words sustain >9000 merges at min_pair_freq=2 with decisive
# argmaxes — the realistic training-corpus shape. The golden is the naive
# full-recount trainer over the same corpus rebuilt in pure Python
# (scripts/gen_bpe_golden_8k.py); graded as a per-256-rank-bucket digest
# (count, total merged length, lexicographic min/max) so any divergence in
# order, tie-break, or content shifts at least one of 32 rows.

BPE8K_N_DOCS = 50
BPE8K_DRAWS = 320
BPE8K_POOL = 6400
BPE8K_WLEN = 20
BPE8K_N_MERGES = 8192
BPE8K_BUCKET = 256

_BPE8K_GOLDEN_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "bpe_golden_8k.json"
)


def _bpe8k_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < BPE8K_N_DOCS)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )
    u = (F.col("doc_id") * 131071 + F.col("k") * 8191) % BPE8K_POOL
    j = F.floor((u * u) / BPE8K_POOL).cast("long")
    word = F.substring(F.md5(j.cast("string")), 1, BPE8K_WLEN)
    return (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(BPE8K_DRAWS - 1))).alias("k"),
        )
        .select("doc_id", word.alias("w"))
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("w")).alias("text"))
    )


def _bpe8k_oracle() -> str:
    with open(_BPE8K_GOLDEN_PATH) as f:
        rows = json.load(f)["digest"]
    values = ", ".join(
        f"({b}, {n}, {s}, '{mn}', '{mx}')" for b, n, s, mn, mx in rows
    )
    return (
        "SELECT CAST(v.bucket AS BIGINT) AS bucket, "
        "CAST(v.n_merges AS BIGINT) AS n_merges, "
        "CAST(v.sum_len AS BIGINT) AS sum_len, v.min_merged, v.max_merged "
        f"FROM (VALUES {values}) v(bucket, n_merges, sum_len, min_merged, max_merged) "
        "ORDER BY bucket"
    )


@query(
    "bpe_train_merges_8k",
    oracle=_bpe8k_oracle() if os.path.exists(_BPE8K_GOLDEN_PATH) else None,
    tags=("tokenize", "bpe", "train", "scale", "pinned-golden"),
)
def bpe_train_merges_8k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8192-merge BPE training (reference-scale vocab story): distributed
    word counts over the in-plan Zipf corpus -> the incremental heap
    trainer on the driver -> per-bucket merge digest vs the naive-trainer
    golden."""
    from llm_data_pipeline_spark.operators.bpe import train_bpe

    corpus = _bpe8k_corpus(spark, sf_dir)
    _, merges, _ = train_bpe(
        corpus, n_merges=BPE8K_N_MERGES, min_pair_freq=2, min_word_freq=1
    )
    rows = []
    for b0 in range(0, len(merges), BPE8K_BUCKET):
        chunk = [a + b for a, b in merges[b0 : b0 + BPE8K_BUCKET]]
        rows.append(
            (
                b0 // BPE8K_BUCKET,
                len(chunk),
                sum(len(m) for m in chunk),
                min(chunk),
                max(chunk),
            )
        )
    return local_df(spark, 
        rows,
        schema="bucket bigint, n_merges bigint, sum_len bigint, "
        "min_merged string, max_merged string",
    ).orderBy("bucket")


@query(
    "tokenizer_compare_vocabs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{TOKEN_PATTERN}') AS tl
  FROM documents
),
flat AS (
  SELECT doc_id, i, tl[i + 1] AS tok
  FROM toks, unnest(range(len(tl))) t(i)
),
ranked AS (
  SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) + 3 AS id
  FROM flat GROUP BY tok
),
stats AS (
  SELECT v.vocab_size,
         count(*) AS total_tokens,
         count(*) FILTER (WHERE r.id >= v.vocab_size) AS n_unk
  FROM flat f
  JOIN ranked r USING (tok)
  CROSS JOIN (VALUES (20), (104)) v(vocab_size)
  GROUP BY v.vocab_size
)
SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(n_unk AS BIGINT) AS n_unk,
       round(CAST(n_unk AS DOUBLE) / total_tokens, 6) AS oov_rate
FROM stats
ORDER BY vocab_size
""",
    tags=("tokenize", "compare", "m2"),
)
def tokenizer_compare_vocabs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer comparison (M2 analog, reference tokenizer/compare.py:
    76-181): encode the same corpus with two trained vocab sizes and
    report total tokens and OOV rate per vocabulary — the deterministic
    core of compare_tokenizers (wall-clock throughput is measured by
    perfbench's tokenizer layer, not graded)."""
    docs = table(spark, sf_dir, "documents")
    rows = []
    for size in (20, 104):
        vocab = train_word_vocab(docs, vocab_size=size)
        enc = encode_via_join(docs, vocab)
        rows.append(
            enc.select(
                F.lit(size).cast("long").alias("vocab_size"),
                F.explode("input_ids").alias("id"),
            )
        )
    both = rows[0].unionByName(rows[1])
    return (
        both.groupBy("vocab_size")
        .agg(
            F.count("*").alias("total_tokens"),
            F.count(F.when(F.col("id") == 0, 1)).alias("n_unk"),
        )
        .select(
            "vocab_size",
            "total_tokens",
            "n_unk",
            F.round(
                F.col("n_unk").cast("double") / F.col("total_tokens"), 6
            ).alias("oov_rate"),
        )
        .orderBy("vocab_size")
    )


@query(
    "tokenizer_inspect_vocab",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{TOKEN_PATTERN}') AS tl
  FROM documents
),
flat AS (
  SELECT tl[i + 1] AS tok FROM toks, unnest(range(len(tl))) t(i)
),
vocab AS (
  SELECT tok AS token,
         row_number() OVER (ORDER BY count(*) DESC, tok) + 3 AS id,
         count(*) AS freq
  FROM flat GROUP BY tok
),
tot AS (SELECT sum(freq) AS total FROM vocab)
SELECT CAST(id AS BIGINT) AS id, token, CAST(freq AS BIGINT) AS freq,
       round(sum(freq) OVER (ORDER BY id) / (SELECT total FROM tot), 6)
         AS cum_coverage
FROM vocab
ORDER BY id
LIMIT 20
""",
    tags=("tokenize", "inspect", "m3"),
)
def tokenizer_inspect_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inspection (M3 analog, reference tokenizer/inspect_model.py):
    the top pieces of the trained vocabulary in id order with cumulative
    corpus coverage — the 'what did training learn' report."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    vocab = train_word_vocab(docs, vocab_size=1 << 30)
    total = vocab.agg(F.sum("freq")).collect()[0][0]
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    return (
        vocab.select(
            F.col("id").cast("long").alias("id"),
            "token",
            F.col("freq").cast("long").alias("freq"),
            F.round(
                F.sum("freq").over(w).cast("double") / F.lit(float(total)), 6
            ).alias("cum_coverage"),
        )
        .orderBy("id")
        .limit(20)
    )


@query(
    "binary_export_roundtrip",
    oracle=_SQL_PRELUDE.format(vocab_size=VOCAB_SIZE) + f"""
, witheos AS (
  SELECT doc_id, i, id FROM enc
  UNION ALL
  SELECT doc_id, len(tl) AS i, 2 AS id FROM toks WHERE len(tl) > 0
),
ordered AS (
  SELECT id,
         row_number() OVER (ORDER BY doc_id, i) - 1 AS goff
  FROM witheos
),
chunked AS (
  SELECT goff // {SEQ_LEN} AS chunk_id, goff % {SEQ_LEN} AS cpos, id
  FROM ordered
  WHERE goff < ((SELECT count(*) FROM witheos) // {SEQ_LEN}) * {SEQ_LEN}
)
SELECT CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(count(*) * 2 AS BIGINT) AS total_bytes,
       CAST(sum(id % 256 + id // 256) AS BIGINT) AS byte_sum,
       CAST(sum((chunk_id * {SEQ_LEN} + cpos + 1) * id) AS BIGINT)
         AS stream_checksum
FROM chunked
""",
    tags=("tokenize", "export", "sink", "order-sensitive"),
)
def binary_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 graded end to end: encode -> pack -> export_binary (the parallel
    range-partitioned shard path + ordered concat) -> read final.bin BACK
    from disk and summarize its uint16-LE byte stream. The oracle
    re-derives the same stream relationally, so total bytes, the byte-sum
    (low+high byte per token), and a position-weighted checksum over the
    whole file pin the sink's byte-exactness and global token order."""
    import numpy as np

    from llm_data_pipeline_spark.sources.sinks import export_binary

    docs = table(spark, sf_dir, "documents")
    vocab = train_word_vocab(docs, vocab_size=VOCAB_SIZE)
    enc = encode_via_udf(docs, vocab)
    chunks = pack_chunks(
        enc, seq_len=SEQ_LEN, eos_id=2, add_eos=True, ensure_eos=True,
        drop_remainder=True, order_col="doc_id",
    )
    out_dir = _BIN_EXPORT_DIR
    meta = export_binary(chunks, out_dir, dtype="uint16")
    arr = np.fromfile(meta["path"], dtype="<u2").astype(np.int64)
    row = (
        int(arr.size),
        int(arr.size * 2),
        int((arr & 0xFF).sum() + (arr >> 8).sum()),
        int((np.arange(1, arr.size + 1, dtype=np.int64) * arr).sum()),
    )
    return local_df(spark, 
        [row],
        schema="total_tokens bigint, total_bytes bigint, byte_sum bigint, "
        "stream_checksum bigint",
    )


# ---------------------------------------------------------------------------
# whole-document next-fit bin packing (the padding-trading T1 counterpart)
# ---------------------------------------------------------------------------

_BIN_CAP = 96
_BIN_BUCKETS = 16


@query(
    "sequence_pack_bins",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT doc_id,
             CAST(doc_id % {_BIN_BUCKETS} AS INT) AS bucket,
             CAST(least(len(list_filter(string_split(trim(regexp_replace(
                 lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' '),
                 x -> x <> '')), {_BIN_CAP}) AS INT) AS tlen,
             row_number() OVER (PARTITION BY doc_id % {_BIN_BUCKETS}
                                ORDER BY doc_id) AS rn
      FROM documents
    ),
    pack AS (
      SELECT bucket, rn, doc_id, tlen,
             0 AS bin_idx, tlen AS fill, 0 AS bin_offset
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.bucket, d.rn, d.doc_id, d.tlen,
             CASE WHEN p.fill + d.tlen <= {_BIN_CAP}
                  THEN p.bin_idx ELSE p.bin_idx + 1 END,
             CASE WHEN p.fill + d.tlen <= {_BIN_CAP}
                  THEN p.fill + d.tlen ELSE d.tlen END,
             CASE WHEN p.fill + d.tlen <= {_BIN_CAP}
                  THEN p.fill ELSE 0 END
      FROM pack p JOIN d ON d.bucket = p.bucket AND d.rn = p.rn + 1
    )
    SELECT bucket, bin_idx,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(tlen) AS BIGINT) AS fill_tokens,
      CAST({_BIN_CAP} - sum(tlen) AS BIGINT) AS padding,
      CAST(sum(doc_id * (bin_offset + 1)) AS BIGINT) AS offset_checksum
    FROM pack GROUP BY bucket, bin_idx ORDER BY bucket, bin_idx
    """,
    tags=("packing", "binpack", "tokenize"),
)
def sequence_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document next-fit bin packing (capacity 96 whitespace tokens,
    16 deterministic bucket streams): each doc lands WHOLE in one bin —
    the clean-attention alternative to pack_constant_length's
    split-across-chunks recipe. Packing is a sequential fold per stream,
    so the bucket IS the parallelism unit (applyInPandas, O(1) state;
    operators/packing.py:pack_bins_next_fit); only 12-byte (key, tlen)
    rows shuffle. The oracle replays the greedy fold as a recursive CTE
    advancing all 16 streams in lockstep — per-bin membership, fill and
    every bin_offset are pinned via the offset checksum."""
    from llm_data_pipeline_spark.functions.repetition import words_of
    from llm_data_pipeline_spark.operators.packing import pack_bins_next_fit

    docs = table(spark, sf_dir, "documents", scatter=True).select(
        "doc_id", F.size(words_of(F.col("text"))).alias("n_tokens")
    )
    packed = pack_bins_next_fit(
        docs,
        key_col="doc_id",
        len_col="n_tokens",
        capacity=_BIN_CAP,
        n_buckets=_BIN_BUCKETS,
    )
    return (
        packed.groupBy("bucket", "bin_idx")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tlen").cast("long").alias("fill_tokens"),
            (F.lit(_BIN_CAP) - F.sum("tlen")).cast("long").alias("padding"),
            F.sum(F.col("doc_id") * (F.col("bin_offset") + 1))
            .cast("long")
            .alias("offset_checksum"),
        )
        .orderBy("bucket", "bin_idx")
    )


# ---------------------------------------------------------------------------
# per-language tokenizer fertility (pinned-golden, independent python path)
# ---------------------------------------------------------------------------


def _bpe_fertility_oracle() -> str:
    arms = []
    for sig, g in _BPE_GOLDEN.items():
        rows = g.get("fertility_by_lang")
        if not rows:
            continue
        values = ", ".join(
            f"({_sql_str(l)}, {nd}, {w}, {t}, {c}, {f}, {cpt})"
            for l, nd, w, t, c, f, cpt in rows
        )
        arms.append(
            "SELECT v.lang, CAST(v.n_docs AS BIGINT) AS n_docs, "
            "CAST(v.words AS BIGINT) AS words, "
            "CAST(v.tokens AS BIGINT) AS tokens, "
            "CAST(v.chars AS BIGINT) AS chars, "
            "CAST(v.fertility_ppm AS BIGINT) AS fertility_ppm, "
            "CAST(v.chars_per_token_mu AS BIGINT) AS chars_per_token_mu "
            f"FROM (VALUES {values}) "
            "v(lang, n_docs, words, tokens, chars, fertility_ppm, "
            "chars_per_token_mu) "
            f"WHERE {_SIG_SQL} = {sig}"
        )
    return "\nUNION ALL\n".join(arms) + "\nORDER BY lang"


@query(
    "tokenizer_fertility_by_lang",
    oracle=_bpe_fertility_oracle(),
    tags=("tokenize", "bpe", "evaluation", "pinned-golden"),
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multilingual tokenizer-quality report: per language, BPE
    tokens per word (fertility) and chars per token for the in-engine
    trained vocabulary — the numbers that decide whether a tokenizer
    under-serves a language. Encode is the broadcast-merges Arrow UDF;
    the rollup is one lang-keyed aggregation. The pinned golden comes
    from the INDEPENDENT pure-python trainer+encoder path
    (scripts/gen_bpe_golden.py), so Spark-side encode drift in any
    language breaks the match."""
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col
    from llm_data_pipeline_spark.operators.bpe import encode_bpe, train_bpe

    docs = table(spark, sf_dir, "documents")
    _, merges, vocab = train_bpe(
        docs, n_merges=BPE_N_MERGES, min_pair_freq=BPE_MIN_PAIR_FREQ,
        min_word_freq=BPE_MIN_WORD_FREQ,
    )
    enc = encode_bpe(docs, merges, vocab).join(
        docs.select("doc_id", "lang", "text"), "doc_id"
    )
    text = F.coalesce(F.col("text"), F.lit(""))
    per_doc = enc.select(
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        F.size(
            F.filter(F.split(text, r"\s+"), lambda x: x != "")
        ).cast("long").alias("w"),
        F.size("input_ids").cast("long").alias("t"),
        F.length(text).cast("long").alias("c"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("words"),
        F.sum("t").alias("tokens"),
        F.sum("c").alias("chars"),
    )
    one = F.lit(1).cast("long")
    return agg.select(
        "lang",
        "n_docs",
        "words",
        "tokens",
        "chars",
        rounded_div_col(
            F.col("tokens") * F.lit(1_000_000).cast("long"),
            F.greatest(F.col("words"), one),
        ).alias("fertility_ppm"),
        rounded_div_col(
            F.col("chars") * F.lit(1_000_000).cast("long"),
            F.greatest(F.col("tokens"), one),
        ).alias("chars_per_token_mu"),
    ).orderBy("lang")


_VC_NORM = "trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))"
_VC_TOKS = f"list_filter(string_split({_VC_NORM}, ' '), x -> x <> '')"
_VC_TARGETS = (500_000, 900_000, 950_000, 990_000, 1_000_000)


@query(
    "token_vocab_coverage_curve",
    oracle=f"""
    WITH toksrc AS (
      SELECT {_VC_TOKS} AS toks FROM documents
    ),
    units AS (
      SELECT toks[i+1] || ' ' || toks[i+2] AS unit
      FROM toksrc, unnest(range(len(toks) - 1)) t(i)
      WHERE len(toks) >= 2
    ),
    freq AS (SELECT unit, count(*) AS f FROM units GROUP BY unit),
    ranked AS (
      SELECT unit, f,
             row_number() OVER (ORDER BY f DESC, unit) AS rnk,
             sum(f) OVER (ORDER BY f DESC, unit
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(f) OVER () AS total
      FROM freq
    ),
    cumppm AS (
      SELECT rnk, CAST((cum * 1000000 + total // 2) // total AS BIGINT)
               AS cum_ppm
      FROM ranked
    )
    SELECT t.target_ppm,
           CAST(min(c.rnk) AS BIGINT) AS vocab_rank,
           CAST(min_by(c.cum_ppm, c.rnk) AS BIGINT) AS cum_ppm_at_rank
    FROM (SELECT unnest([{", ".join(str(t) for t in _VC_TARGETS)}])
            AS target_ppm) t
    JOIN cumppm c ON c.cum_ppm >= t.target_ppm
    GROUP BY t.target_ppm
    ORDER BY t.target_ppm
    """,
    tags=("tokenize", "vocab", "analysis"),
)
def token_vocab_coverage_curve(spark: SparkSession, sf_dir: str):
    """Vocabulary coverage curve — the vocab-size design input for
    tokenizer training: how many highest-frequency units (word bigrams
    here, the subword proxy with a usefully large unit space on the
    synthetic corpus) are needed to cover 50/90/95/99/100% of all corpus
    occurrences. One count aggregate, one global (freq desc, unit) window
    for rank + cumulative mass (exact integers; cum_ppm by rounded
    integer division), then the smallest covering rank per target. At
    100 TB the global window runs over the VOCABULARY (frequency table),
    not the corpus — vocab-bounded by construction."""
    from pyspark.sql.window import Window

    from llm_data_pipeline_spark.functions.intmath import rounded_div_col
    from llm_data_pipeline_spark.functions.text import norm_ws

    docs = table(spark, sf_dir, "documents", scatter=True)
    toks = F.filter(F.split(norm_ws(F.col("text")), " "), lambda x: x != "")
    units = docs.select(toks.alias("toks")).where(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("toks"), i + 1),
                    F.element_at(F.col("toks"), i + 2),
                ),
            )
        ).alias("unit")
    )
    freq = units.groupBy("unit").agg(F.count("*").alias("f"))
    w = Window.orderBy(F.desc("f"), F.asc("unit"))
    ranked = freq.select(
        "unit",
        "f",
        F.row_number().over(w).alias("rnk"),
        F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
        F.sum("f").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    cumppm = ranked.select(
        "rnk",
        rounded_div_col(F.col("cum") * 1_000_000, F.col("total")).alias(
            "cum_ppm"
        ),
    )
    targets = local_df(spark, 
        [(t,) for t in _VC_TARGETS], "target_ppm long"
    )
    return (
        targets.join(cumppm, F.col("cum_ppm") >= F.col("target_ppm"))
        .groupBy("target_ppm")
        .agg(
            F.min("rnk").cast("long").alias("vocab_rank"),
            F.min_by("cum_ppm", "rnk").cast("long").alias("cum_ppm_at_rank"),
        )
        .orderBy("target_ppm")
    )


@query(
    "packed_attention_mask_stats",
    oracle=_SQL_PRELUDE.format(vocab_size=VOCAB_SIZE) + f"""
, witheos AS (
  SELECT doc_id, i, id FROM enc
  UNION ALL
  SELECT doc_id, len(tl) AS i, 2 AS id FROM toks WHERE len(tl) > 0
),
ordered AS (
  SELECT id,
         row_number() OVER (ORDER BY doc_id, i) - 1 AS goff,
         dense_rank() OVER (ORDER BY doc_id) - 1 AS sid
  FROM witheos
),
chunked AS (
  SELECT goff // {SEQ_LEN} AS chunk_id, goff % {SEQ_LEN} AS cpos, sid
  FROM ordered
  WHERE goff < ((SELECT count(*) FROM witheos) // {SEQ_LEN}) * {SEQ_LEN}
),
segs AS (
  SELECT chunk_id, sid, count(*) AS seg_len
  FROM chunked GROUP BY chunk_id, sid
)
SELECT chunk_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(seg_len * seg_len) AS BIGINT) AS active_pairs,
       CAST({SEQ_LEN} * {SEQ_LEN} - sum(seg_len * seg_len) AS BIGINT)
         AS blocked_pairs,
       CAST((sum(seg_len * seg_len) * 1000000
             + ({SEQ_LEN} * {SEQ_LEN}) // 2) // ({SEQ_LEN} * {SEQ_LEN})
            AS BIGINT) AS mask_density_ppm
FROM segs GROUP BY chunk_id
ORDER BY chunk_id
""",
    tags=("tokenize", "pack", "attention", "order-sensitive"),
)
def packed_attention_mask_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-diagonal attention-mask accounting for the packed chunks —
    the number the training stack needs to budget attention FLOPs and to
    verify cross-document leakage is actually masked: per 512-token
    chunk, the segment runs from pack_constant_length give the
    block-diagonal mask's active token-pair count sum(len_i^2), the
    blocked (cross-document) pair count L^2 - sum(len_i^2), and the mask
    density in exact integer ppm. Derived entirely from the packer's
    seq_lens metadata (no second pass over token arrays); the oracle
    re-derives the same segments from first principles."""
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    docs = table(spark, sf_dir, "documents")
    vocab = train_word_vocab(docs, vocab_size=VOCAB_SIZE)
    enc = encode_via_udf(docs, vocab)
    chunks = pack_chunks(
        enc, seq_len=SEQ_LEN, eos_id=2, add_eos=True, ensure_eos=True,
        drop_remainder=True, order_col="doc_id",
    )
    active = F.aggregate(
        F.col("seq_lens"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long") * x.cast("long"),
    )
    L2 = SEQ_LEN * SEQ_LEN
    return (
        chunks.select(
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size("seq_lens").cast("long").alias("n_segments"),
            active.alias("active_pairs"),
        )
        .withColumn(
            "blocked_pairs", (F.lit(L2) - F.col("active_pairs")).cast("long")
        )
        .withColumn(
            "mask_density_ppm",
            # repo integer-division convention (rounded_div_col), not ad-hoc
            # float division: exact at SEQ_LEN=512 either way, but this stays
            # exact if SEQ_LEN ever grows past the 2^53 mantissa comfort zone
            rounded_div_col(
                F.col("active_pairs") * 1_000_000, F.lit(L2).cast("long")
            ),
        )
        .orderBy("chunk_id")
    )


_DECODE_VOCAB = 4096


@query(
    "tokenize_decode_roundtrip",
    oracle=_SQL_PRELUDE.format(vocab_size=_DECODE_VOCAB) + """,
dec AS (
  SELECT e.doc_id, e.i, COALESCE(v.tok, '<unk>') AS tok
  FROM enc e
  LEFT JOIN (SELECT tok, id FROM vocab) v USING (id)
),
rb AS (
  SELECT doc_id, count(*) AS n_tokens,
         count(*) FILTER (WHERE tok = '<unk>') AS n_unk,
         string_agg(tok, ' ' ORDER BY i) AS decoded
  FROM dec GROUP BY doc_id
),
orig AS (
  SELECT doc_id,
         array_to_string(regexp_extract_all(coalesce(text, ''),
                                            '{pat}'), ' ') AS ot
  FROM documents
)
SELECT o.doc_id,
       CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(r.n_unk, 0) AS BIGINT) AS n_unk,
       md5(coalesce(r.decoded, '')) AS decoded_md5,
       (coalesce(r.decoded, '') = o.ot) AS roundtrip_exact
FROM orig o LEFT JOIN rb r USING (doc_id)
ORDER BY o.doc_id
""".replace("{pat}", TOKEN_PATTERN),
    tags=("tokenize", "decode", "roundtrip"),
)
def tokenize_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-side contract of the tokenizer: encode every document, map
    the id sequence BACK to tokens through the same vocab, rebuild the
    text, and grade the reconstruction (md5 of the decoded string + an
    exact-roundtrip flag) against the tokenized original. A lossless
    encode/decode pair is the property every downstream consumer of the
    binary token sink silently assumes — this query makes it a graded
    fact (at vocab 4096 the synthetic word pool is fully covered, so
    roundtrip_exact must be TRUE everywhere; OOV would surface as n_unk
    and a flipped flag, not a silent corruption). Decode is a broadcast
    id->token join + one ordered per-doc rebuild — narrow at any scale."""
    docs = table(spark, sf_dir, "documents")
    vocab = train_word_vocab(docs, vocab_size=_DECODE_VOCAB)
    enc = encode_via_join(docs, vocab)
    ex = enc.select("doc_id", F.posexplode("input_ids").alias("i", "id"))
    dec = ex.join(
        F.broadcast(vocab.select("id", F.col("token").alias("tok"))),
        "id",
        "left",
    ).select(
        "doc_id", "i", F.coalesce("tok", F.lit("<unk>")).alias("tok")
    )
    rb = dec.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("tok") == "<unk>", 1).otherwise(0))
        .cast("long")
        .alias("n_unk"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("decoded"),
    )
    from llm_data_pipeline_spark.operators.tokenizer import tokenize_words

    orig = docs.select(
        "doc_id",
        F.concat_ws(
            " ", tokenize_words(F.coalesce(F.col("text"), F.lit("")))
        ).alias("ot"),
    )
    return (
        orig.join(rb, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_unk", F.lit(0)).cast("long").alias("n_unk"),
            F.md5(F.coalesce("decoded", F.lit(""))).alias("decoded_md5"),
            (F.coalesce("decoded", F.lit("")) == F.col("ot")).alias(
                "roundtrip_exact"
            ),
        )
        .coalesce(1)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-algorithm) Viterbi encode, fully hash-checked
# ---------------------------------------------------------------------------


# The shared Viterbi-DP oracle lives in the LEAF module
# operators/unigram_lm.py (unigram_oracle_sql) because the streaming
# twin grades against the identical chain — importing it from a leaf
# keeps the oracle independent of query-module import order.
from llm_data_pipeline_spark.operators.unigram_lm import (  # noqa: E402
    unigram_oracle_sql as _unigram_oracle,
)


@query(
    "unigram_lm_encode",
    oracle=_unigram_oracle(),
    tags=("tokenize", "unigram", "sentencepiece"),
)
def unigram_lm_encode(spark: SparkSession, sf_dir: str):
    """Unigram-LM tokenization — the SentencePiece ALGORITHM (Kudo 2018)
    run natively, closing as much of the reference's SPM contract
    (tokenizer/train.py:90-264) as this container allows: a trained
    unigram piece vocabulary (scripts/gen_unigram_vocab.py: seed n-grams
    -> hard-EM reweighting -> prune, costs committed as integer micro-nat
    literals in data/unigram_vocab.py — ln evaluates at GENERATION time
    only) decoded by exact Viterbi. The graded fixture is each doc's
    normalized 32-char prefix padded to fixed depth so the oracle can
    unroll the DP — one MATERIALIZED CTE per position, argmin(cost, len)
    per step — and hash-check the segmentation PATH (pieces_md5), its
    length, and its total cost for every doc: the Viterbi decode itself
    is the graded fact, not a summary of it. Spark side: one
    Arrow-batched pandas UDF (O(len*4) integer DP per doc, broadcast
    vocab dict), everything else JVM."""
    from llm_data_pipeline_spark.operators.unigram_lm import (
        graded_prefix,
        unigram_encode_expr,
    )

    docs = table(spark, sf_dir, "documents", scatter=True)
    from llm_data_pipeline_spark.functions.text import norm_ws

    base = docs.select(
        "doc_id", graded_prefix(F.col("text")).alias("t")
    ).where(F.length(norm_ws(F.col("text"))) > 0)
    enc = base.select("doc_id", unigram_encode_expr(F.col("t")).alias("e"))
    return enc.select(
        "doc_id",
        F.col("e.total_cost_micro").alias("total_cost_micro"),
        F.col("e.n_pieces").alias("n_pieces"),
        F.md5(F.col("e.pieces")).alias("pieces_md5"),
    ).orderBy("doc_id")
