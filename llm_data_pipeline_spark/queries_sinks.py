"""Graded sink roundtrips (S5/S6/S7/S9) — the last SURVEY §2 sink rows
without a driver-gradeable query (S8 has binary_export_roundtrip).

One query writes each sink to disk with the real writer, reads the files
BACK with the matching Spark reader, and reduces the read-back contents to
order-insensitive scalar metrics; the oracle derives the same metrics
from the source tables directly. Equality proves the files carry exactly
the data the pipeline computed — roundtrip fidelity, not just "the write
didn't throw".

Reference parity: S5 core.py:329-356 (overwrite parquet), S6
tokenizer/train.py:25-87 (newline-flattened text shards), S7
tokenizer/run.py:220-261 (packed chunk parquet shards), S9
tokenizer/run.py:392-408 (packing_meta.json).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.hashing import DUCKDB_HASH60, portable_hash60
from llm_data_pipeline_spark.operators.clean import score_documents
from llm_data_pipeline_spark.operators.packing import pack_chunks, packing_meta
from llm_data_pipeline_spark.operators.tokenizer import (
    encode_via_udf,
    train_word_vocab,
)
from llm_data_pipeline_spark.queries import query, table
from llm_data_pipeline_spark.queries_pipeline import CLEAN_METRICS_SQL
from llm_data_pipeline_spark.queries_tokenize import SEQ_LEN, VOCAB_SIZE, _SQL_PRELUDE
from llm_data_pipeline_spark.sources.sinks import (
    write_packed_parquet,
    write_text_shards,
)
from llm_data_pipeline_spark.core.stage import write_parquet_counted

# pid-suffixed so two concurrent sessions on one machine never interleave
# writes or read each other's roundtrip artifacts; removed at process exit
# so repeated runs don't accumulate /tmp garbage
SINK_BASE = os.path.join(
    tempfile.gettempdir(), f"llm_dp_spark_sinks_{os.getpid()}"
)

import atexit  # noqa: E402
import shutil  # noqa: E402
from llm_data_pipeline_spark.functions.localframe import local_df

atexit.register(shutil.rmtree, SINK_BASE, ignore_errors=True)
_MOD = 1_000_000_007

_FLAT_RE = r"\s*\n\s*"


def _hsum(col) -> F.Column:
    """Overflow-safe portable hash aggregate: sum of (hash60 mod p)."""
    return F.sum(F.pmod(portable_hash60(col), F.lit(_MOD))).cast("long")


_PACK_CHUNK_SQL = (
    _SQL_PRELUDE.format(vocab_size=VOCAB_SIZE)
    + f"""
, witheos AS (
  SELECT doc_id, i, id FROM enc
  UNION ALL
  SELECT doc_id, len(tl) AS i, 2 AS id FROM toks WHERE len(tl) > 0
),
ordered AS (
  SELECT id, row_number() OVER (ORDER BY doc_id, i) - 1 AS goff
  FROM witheos
),
chunked AS (
  SELECT goff // {SEQ_LEN} AS chunk_id, goff % {SEQ_LEN} AS cpos, id
  FROM ordered
  WHERE goff < ((SELECT count(*) FROM witheos) // {SEQ_LEN}) * {SEQ_LEN}
)
"""
)

_H60 = DUCKDB_HASH60.format(s="doc_id::VARCHAR || ':' || drop_reason")
_H60_LINE = DUCKDB_HASH60.format(s="line")

_ORACLE = (
    CLEAN_METRICS_SQL
    + f"""
, s5 AS (
  SELECT 's5_rows' AS metric, CAST(count(*) AS BIGINT) AS value FROM judged
  UNION ALL
  SELECT 's5_reason_hashsum', CAST(sum(({_H60}) % {_MOD}) AS BIGINT) FROM judged
),
flat6 AS (
  SELECT regexp_replace(text, '{_FLAT_RE}', ' ', 'g') AS line FROM documents
  WHERE length(regexp_replace(text, '{_FLAT_RE}', ' ', 'g')) > 0
),
s6 AS (
  SELECT 's6_lines', CAST(count(*) AS BIGINT) FROM flat6
  UNION ALL
  SELECT 's6_chars', CAST(sum(length(line)) AS BIGINT) FROM flat6
  UNION ALL
  SELECT 's6_line_hashsum', CAST(sum(({_H60_LINE}) % {_MOD}) AS BIGINT) FROM flat6
),
pack AS ({_PACK_CHUNK_SQL.strip().lstrip(",").strip()} SELECT * FROM chunked),
s7 AS (
  SELECT 's7_chunks', CAST(count(DISTINCT chunk_id) AS BIGINT) FROM pack
  UNION ALL
  SELECT 's7_ids_checksum_sum', CAST(sum((cpos + 1) * id) AS BIGINT) FROM pack
),
s9 AS (
  SELECT 's9_total_chunks', CAST(count(DISTINCT chunk_id) AS BIGINT) FROM pack
  UNION ALL
  SELECT 's9_total_tokens_out',
         CAST(count(DISTINCT chunk_id) * {SEQ_LEN} AS BIGINT) FROM pack
)
SELECT metric, value FROM s5
UNION ALL SELECT * FROM s6
UNION ALL SELECT * FROM s7
UNION ALL SELECT * FROM s9
ORDER BY metric
"""
)


@query(
    "sink_roundtrip_report",
    oracle=_ORACLE,
    tags=("sources", "sinks", "roundtrip"),
)
def sink_roundtrip_report(spark: SparkSession, sf_dir: str):
    """Write S5/S6/S7 with the real writers, read the files back, reduce
    to scalar metrics (counts, char totals, portable-hash sums, chunk
    checksums, S9 packing-meta values); the oracle computes the same
    metrics from the source tables, so equality pins roundtrip fidelity
    of every sink."""
    os.makedirs(SINK_BASE, exist_ok=True)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    # The three sink legs are fully independent write->read->aggregate
    # chains; running them from a small thread pool lets each leg's tail
    # back-fill executors freed by the others (guide §2.6 — actions are
    # only sequential because driver code calls them sequentially).
    # Results are identical: each leg still writes its own directory,
    # reads back its own files, and reduces to the same scalars.
    def _leg5():
        # S5: overwrite parquet of the scored frame, observe-counted write
        spark.sparkContext.setJobDescription("sink_roundtrip: S5 parquet")
        scored = score_documents(docs).select("doc_id", "text", "drop_reason")
        p5 = os.path.join(SINK_BASE, "scored_parquet")
        write_parquet_counted(scored, p5)
        back5 = spark.read.parquet(p5)
        return back5.agg(
            F.count("*").alias("s5_rows"),
            _hsum(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("drop_reason"),
                )
            ).alias("s5_reason_hashsum"),
        ).collect()[0]

    def _leg6():
        # S6: newline-flattened text shards, read back as text lines
        spark.sparkContext.setJobDescription("sink_roundtrip: S6 text shards")
        p6 = os.path.join(SINK_BASE, "text_shards")
        write_text_shards(docs, p6, n_shards=8)
        back6 = spark.read.text(p6)
        return back6.agg(
            F.count("*").alias("s6_lines"),
            F.sum(F.length("value")).cast("long").alias("s6_chars"),
            _hsum(F.col("value")).alias("s6_line_hashsum"),
        ).collect()[0]

    def _leg7():
        # S7: packed chunk shards (zstd, maxRecordsPerFile), read back;
        # S9: packing meta over the same read-back shards
        spark.sparkContext.setJobDescription("sink_roundtrip: S7 packed")
        vocab = train_word_vocab(docs, vocab_size=VOCAB_SIZE)
        chunks = pack_chunks(
            encode_via_udf(docs, vocab), seq_len=SEQ_LEN, eos_id=2,
            add_eos=True, ensure_eos=True, drop_remainder=True,
            order_col="doc_id",
        )
        p7 = os.path.join(SINK_BASE, "packed_parquet")
        write_packed_parquet(chunks, p7, shard_chunks=16)
        back7 = spark.read.parquet(p7)
        checksum = F.aggregate(
            F.zip_with(
                F.col("input_ids"),
                F.sequence(F.lit(1), F.size("input_ids")),
                lambda x, i: x.cast("long") * i,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        rows7 = back7.agg(
            F.count("*").alias("s7_chunks"),
            F.sum(checksum).cast("long").alias("s7_ids_checksum_sum"),
        ).collect()[0]
        # S9's total_chunks is a count of the SAME read-back frame the S7
        # aggregate just scanned — pass it through instead of re-reading
        # the shard files for an identical number (one pass, not two)
        meta = packing_meta(
            back7, seq_len=SEQ_LEN, eos_id=2,
            n_chunks=int(rows7["s7_chunks"]),
        )
        return rows7, meta

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f5, f6, f7 = pool.submit(_leg5), pool.submit(_leg6), pool.submit(_leg7)
        rows5, rows6 = f5.result(), f6.result()
        rows7, meta = f7.result()
    spark.sparkContext.setJobDescription(None)
    data = [
        ("s5_reason_hashsum", int(rows5["s5_reason_hashsum"])),
        ("s5_rows", int(rows5["s5_rows"])),
        ("s6_chars", int(rows6["s6_chars"])),
        ("s6_line_hashsum", int(rows6["s6_line_hashsum"])),
        ("s6_lines", int(rows6["s6_lines"])),
        ("s7_chunks", int(rows7["s7_chunks"])),
        ("s7_ids_checksum_sum", int(rows7["s7_ids_checksum_sum"])),
        ("s9_total_chunks", int(meta["total_chunks"])),
        ("s9_total_tokens_out", int(meta["total_tokens_out"])),
    ]
    return local_df(spark, 
        data, schema="metric string, value bigint"
    ).orderBy("metric")


_PRUNE_LANGS = ("en", "zh")
_PRUNE_PRED = " OR ".join(f"lang = '{lang}'" for lang in _PRUNE_LANGS)


@query(
    "partitioned_sink_pruned_scan",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum({DUCKDB_HASH60.format(
               s="(doc_id::VARCHAR || '#' || coalesce(text, ''))"
           )} % {_MOD}) AS BIGINT) AS doc_hashsum
    FROM documents
    WHERE {_PRUNE_PRED}
    GROUP BY lang ORDER BY lang
    """,
    tags=("sinks", "partitioning", "pruning"),
)
def partitioned_sink_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-PRUNED read-back: write
    the corpus partitioned by lang (the layout a 100-TB corpus store
    actually uses — per-language subtrees so monolingual jobs touch only
    their slice), read it back filtered to 2 of the languages, and reduce
    the read-back rows to per-lang (count, chars, content-hash-sum)
    fidelity metrics. The filter is satisfied by directory pruning —
    `PartitionFilters` in the scan node, 0 data files opened for the
    other languages (guarded in tests/test_plans.py) — while the hash-sum
    proves the partitioned files carry exactly the source rows."""
    docs = table(spark, sf_dir, "documents")
    path = os.path.join(SINK_BASE, "partitioned_docs")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path).where(F.col("lang").isin(*_PRUNE_LANGS))
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            _hsum(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit("#"),
                    F.coalesce(F.col("text"), F.lit("")),
                )
            ).alias("doc_hashsum"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# bucketed co-located fact-fact join (shuffle elimination via storage layout)
# ---------------------------------------------------------------------------

_BKT_N = 8


@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority,
      CAST(count(*) AS BIGINT) AS n_items,
      round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("sink", "bucketing", "join", "scale"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB fact-fact join recipe: orders and lineitem are WRITTEN as
    co-bucketed sorted tables on the join key (8 buckets, sortBy key), then
    joined with a merge hint — with matching bucket specs Spark plans a
    SortMergeJoin with NO Exchange on either side (neither fact shuffles;
    neither fits a broadcast at scale). This is the layout a nightly
    pipeline amortizes: pay the bucketed write once, join shuffle-free
    every day after. Writes land under the pid-suffixed SINK_BASE; the
    graded values are the join's per-priority revenue rollup, proving the
    bucketed files carry exactly the source rows. Plan guard
    (in tests/test_skew.py): zero exchanges feeding the join, one for the
    final aggregate."""
    from llm_data_pipeline_spark.operators.skew import write_bucketed

    sfx = f"{abs(hash(sf_dir)) % 10**8}_{os.getpid()}"
    t_orders, t_items = f"bkt_orders_{sfx}", f"bkt_lineitem_{sfx}"
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"), "o_orderpriority"
    )
    items = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"), "l_extendedprice", "l_discount"
    )
    # The two bucketed writes are independent — overlap them from a thread
    # pool (guide §2.6) so the smaller orders write back-fills executors
    # during the lineitem write's tail. Output tables are byte-identical.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fo = pool.submit(
            write_bucketed, orders, t_orders, "key", _BKT_N,
            path=f"{SINK_BASE}/{t_orders}",
        )
        fi = pool.submit(
            write_bucketed, items, t_items, "key", _BKT_N,
            path=f"{SINK_BASE}/{t_items}",
        )
        fo.result(), fi.result()
    joined = (
        spark.table(t_orders)
        .hint("merge")
        .join(spark.table(t_items).hint("merge"), "key")
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# JSONL sink/source roundtrip (the LLM-data interchange format)
# ---------------------------------------------------------------------------

_JL_KEY = "'jl:' || doc_id::VARCHAR || ':' || coalesce(text, '')"


@query(
    "jsonl_sink_roundtrip",
    oracle=f"""
    SELECT metric, value FROM (
      SELECT 'jl_rows' AS metric, CAST(count(*) AS BIGINT) AS value
      FROM documents
      UNION ALL
      SELECT 'jl_text_hashsum',
             CAST(sum(({DUCKDB_HASH60.format(s=_JL_KEY)}) % {_MOD}) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'jl_chars', CAST(sum(length(coalesce(text, ''))) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'jl_langs', CAST(count(DISTINCT lang) AS BIGINT) FROM documents
      UNION ALL
      SELECT 'jl_id_sum', CAST(sum(doc_id) AS BIGINT) FROM documents
    ) ORDER BY metric
    """,
    tags=("sources", "sinks", "roundtrip", "jsonl"),
)
def jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str):
    """JSONL roundtrip — the interchange format LLM corpora actually move
    in: write documents as newline-delimited JSON shards with the real
    writer, read them back with an EXPLICIT schema (schema inference on
    100 TB of JSONL is a second full scan), reduce to scalar fidelity
    metrics (row count, keyed text hash-sum, char total, lang
    cardinality, id checksum). The oracle computes the same metrics from
    the source parquet, so equality pins lossless text/NULL/unicode
    transit through the JSON encoder and decoder."""
    os.makedirs(SINK_BASE, exist_ok=True)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    pj = os.path.join(SINK_BASE, "docs_jsonl")
    docs.write.mode("overwrite").json(pj)
    back = spark.read.schema(
        "doc_id long, text string, lang string, n_chars long"
    ).json(pj)
    key = F.concat(
        F.lit("jl:"),
        F.col("doc_id").cast("string"),
        F.lit(":"),
        F.coalesce(F.col("text"), F.lit("")),
    )
    agg = back.agg(
        F.count(F.lit(1)).cast("long").alias("jl_rows"),
        _hsum(key).alias("jl_text_hashsum"),
        F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).cast("long").alias(
            "jl_chars"
        ),
        F.count_distinct("lang").cast("long").alias("jl_langs"),
        F.sum("doc_id").cast("long").alias("jl_id_sum"),
    )
    melted = agg.select(
        F.explode(
            F.create_map(
                *[
                    x
                    for m in (
                        "jl_rows",
                        "jl_text_hashsum",
                        "jl_chars",
                        "jl_langs",
                        "jl_id_sum",
                    )
                    for x in (F.lit(m), F.col(m))
                ]
            )
        ).alias("metric", "value")
    )
    return melted.orderBy("metric")
