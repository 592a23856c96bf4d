"""Fixed-length sequence packing (T1/T2/T3) as a deterministic Spark plan.

Reference parity: ConstantLengthDataset (tokenizer/run.py:109-214) —
sequentially concatenate per-document token lists (appending EOS per sample;
``ensure_eos`` skips when the sample already ends with EOS), then emit
fixed ``seq_len`` chunks that cross document boundaries via carry-over.
Per-chunk metadata (_runs_from_sids, tokenizer/run.py:73-103): ``seq_id``
(per-token local segment index), ``seq_lens`` (run lengths), ``offsets``
(prefix starts, length k+1) for block-diagonal attention masking. Tail:
dropped when ``drop_remainder`` (the reference default), else padded with
EOS and the pad run labelled as a fresh segment (tokenizer/run.py:193-214).

The reference packs with a single sequential Python iterator — a global
fold. Spark-first equivalent (SURVEY.md §7.5(1)): the fold is replaced by a
**prefix-sum chunk assignment**, which is order-exact and fully parallel:

1. order documents by a total-order key; compute each document's global
   token offset as the exclusive prefix sum of token counts;
2. a document occupying global span [start, end) overlaps chunks
   floor(start/L) .. floor((end-1)/L); explode each document into one row
   per overlapped chunk carrying the array *slice* that lands there
   (pure higher-order array functions — no Python);
3. groupBy(chunk_id), order segments by their in-chunk position, flatten.

Scale notes (100 TB):

- The prefix sum has two physical strategies: ``window`` (a global-order
  running sum — simple, but the running sum funnels (doc_id, count) pairs
  through one partition) and ``partitioned`` (default). The partitioned
  strategy is size-gated: up to ``OFFSETS_DRIVER_MAX_ROWS`` documents with
  unique order keys, the (key, count) pairs are collected once and summed
  on the driver, and the offsets rejoin through one broadcast frame.
  Otherwise it range-partitions by the order key, runs a per-partition
  cumsum via mapInPandas, then adds per-partition bases computed from a
  driver-side aggregate of *n_partitions* rows. Only 8-byte counts flow
  through the narrow stages; the heavy token arrays never leave their
  partitions until the final chunk shuffle.
- The final shuffle is keyed by chunk_id (total_tokens / seq_len keys),
  uniformly distributed by construction — no skew.
- Everything after tokenization is native Column expressions; no Python in
  the per-token path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from llm_data_pipeline_spark.operators.tokenizer import EOS_ID
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage
from llm_data_pipeline_spark.functions.localframe import bounded_rows, fits_driver

# Row bound of add_global_offsets' driver path: the measured crossover
# against the range path (see add_global_offsets).
OFFSETS_DRIVER_MAX_ROWS = 100_000


def _with_eos(ids: F.Column, eos_id: int, add_eos: bool, ensure_eos: bool) -> F.Column:
    """Per-sample EOS policy (tokenizer/run.py:156-163)."""
    if not add_eos:
        return ids
    appended = F.concat(ids, F.array(F.lit(eos_id)))
    if not ensure_eos:
        return appended
    return F.when(F.element_at(ids, -1) == eos_id, ids).otherwise(appended)


def add_global_offsets(
    df: DataFrame,
    count_col: str,
    order_cols: list[str],
    strategy: str = "partitioned",
    ordinal_col: str | None = None,
    return_totals: bool = False,
) -> DataFrame:
    """Append ``start`` = exclusive prefix sum of ``count_col`` in total order.

    With ``return_totals`` the result is ``(df, (grand_total, n_rows))`` —
    the partitioned strategy already aggregates these in pass 1, so callers
    get them for free instead of launching another job (``None`` totals for
    the window strategy).

    If ``ordinal_col`` is set, also append the 0-based global row ordinal
    (an exclusive prefix sum of ones) in the same pass — the packer needs
    both and computing them together avoids a second global-order stage.

    strategy='window': single global-order running-sum window (correct at
    any size, bottlenecked by the one-partition window at extreme scale).
    strategy='partitioned': identical output, no data-sized
    single-partition stage (the bounded collect's one-partition limit sees
    at most ``OFFSETS_DRIVER_MAX_ROWS + 1`` rows).

    - At most ``OFFSETS_DRIVER_MAX_ROWS`` rows: the (order key, count)
      rows are collected once as Arrow (bounded by
      ``localframe.bounded_rows``),
      sorted with NULLs first as Spark's ascending sort puts them, and the
      exclusive cumsum, the ordinals and the totals are taken in that one
      pass. ``start`` and the ordinal rejoin through a broadcast join with
      one Arrow-built frame, which needs unique order keys (pack_chunks'
      ``doc_id`` is unique after encoding): duplicate keys fall back.
      Arrow's order equals Spark's for the integral and string keys the
      packer uses (not for NaN or -0.0).
      This spares the range path's sample job, its AQE stages and its
      lineage cut (11 Spark jobs for the pipeline's token_packing step on
      perfbench's 80-doc corpus). The bound is the measured crossover:
      with 2-32 tokens per document, local[4], the offsets (pack_chunks)
      took 0.56 (0.92) s on the driver path against 0.73 (1.25) s on the
      range path at 30k documents, 0.78 (1.55) against 0.82 (1.52) s at
      100k, 1.59 (2.46) against 1.15 (2.07) s at 300k and 3.61 (5.48)
      against 3.17 (4.80) s at 1M.
    - Otherwise a distributed two-pass prefix sum: range partition on the
      order key, cumsum within partitions, add broadcast per-partition
      bases.
    """
    if strategy == "window":
        from pyspark.sql.window import Window

        w = (
            Window.orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        out = df.withColumn("start", F.coalesce(F.sum(count_col).over(w), F.lit(0)))
        if ordinal_col:
            out = out.withColumn(
                ordinal_col,
                (F.row_number().over(Window.orderBy(*order_cols)) - 1).cast("long"),
            )
        return (out, None) if return_totals else out

    spark = df.sparkSession
    driver = _driver_offsets(df, count_col, order_cols, ordinal_col)
    if driver is not None:
        out, totals = driver
        return (out, totals) if return_totals else out
    num_partitions = max(2, spark.sparkContext.defaultParallelism)
    parted = (
        df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        # localCheckpoint, not persist: pass 2's result is returned lazily,
        # so there is no point at which this function could unpersist; the
        # pass-1 collect below materializes the blocks and the
        # ContextCleaner frees them when the result is GC'd.
        .transform(cut_lineage, eager=False)
    )
    # Pass 1: per-partition totals -> exclusive bases (n_partitions rows of
    # two longs — driver-side cost is O(n_partitions), never O(rows)).
    totals = (
        parted.groupBy("_pid")
        .agg(F.sum(count_col).alias("t"), F.count("*").alias("n"))
        .orderBy("_pid")
        .collect()
    )
    bases: dict[int, tuple[int, int]] = {}
    acc_t, acc_n = 0, 0
    for r in totals:
        bases[r["_pid"]] = (acc_t, acc_n)
        acc_t += r["t"]
        acc_n += r["n"]
    bc = spark.sparkContext.broadcast(bases)

    # Pass 2: within-partition exclusive cumsum + broadcast base.
    out_schema = parted.drop("_pid").schema.add("start", "long")
    if ordinal_col:
        out_schema = out_schema.add(ordinal_col, "long")
    cols = [
        f.name for f in out_schema.fields if f.name not in ("start", ordinal_col)
    ]

    def _cumsum(batches):
        base = None
        running_t, running_n = 0, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if base is None:
                base = bc.value[int(pdf["_pid"].iloc[0])]
            counts = pdf[count_col].astype("int64")
            csum = counts.cumsum() - counts  # exclusive
            out = pdf[[c for c in cols]].copy()
            out["start"] = csum + base[0] + running_t
            if ordinal_col:
                out[ordinal_col] = np.arange(len(pdf)) + base[1] + running_n
            running_t += int(counts.sum())
            running_n += len(pdf)
            yield out

    # mapInPandas preserves partition-internal order of the sorted input
    # (it is a narrow per-partition transform).
    out = parted.mapInPandas(_cumsum, out_schema)
    return (out, (acc_t, acc_n)) if return_totals else out


def _driver_offsets(
    df: DataFrame,
    count_col: str,
    order_cols: list[str],
    ordinal_col: str | None,
) -> tuple[DataFrame, tuple[int, int]] | None:
    """add_global_offsets' driver path: ``(df + start [+ ordinal], (grand
    total, n rows))``, or None when ``df`` is over the driver bound or its
    order keys are not unique."""
    bound = OFFSETS_DRIVER_MAX_ROWS
    rows = bounded_rows(df.select(*order_cols, count_col), bound).toArrow()
    if not fits_driver(rows, bound):
        return None
    if rows.group_by(order_cols).aggregate([]).num_rows != rows.num_rows:
        return None
    rows = rows.sort_by(
        [(c, "ascending") for c in order_cols], null_placement="at_start"
    )
    counts = pc.fill_null(rows[count_col], 0).to_numpy().astype(np.int64)
    csum = np.cumsum(counts)
    keys = {f"_key{i}": c for i, c in enumerate(order_cols)}
    cols = {k: rows[c] for k, c in keys.items()}
    fields = [StructField(k, df.schema[c].dataType) for k, c in keys.items()]
    cols["start"] = pa.array(csum - counts)
    fields.append(StructField("start", LongType()))
    if ordinal_col:
        cols[ordinal_col] = pa.array(np.arange(rows.num_rows, dtype=np.int64))
        fields.append(StructField(ordinal_col, LongType()))
    offsets = df.sparkSession.createDataFrame(pa.table(cols), StructType(fields))
    on = [df[c].eqNullSafe(offsets[k]) for k, c in keys.items()]
    out = df.join(F.broadcast(offsets), on).drop(*keys)
    total = int(csum[-1]) if rows.num_rows else 0
    return out, (total, rows.num_rows)


def pack_chunks(
    df_tokens: DataFrame,
    seq_len: int = 4096,
    eos_id: int = EOS_ID,
    add_eos: bool = True,
    ensure_eos: bool = True,
    drop_remainder: bool = True,
    order_col: str = "doc_id",
    ids_col: str = "input_ids",
    prefix_strategy: str = "partitioned",
) -> DataFrame:
    """Pack (doc_id, input_ids) into fixed chunks with segment metadata.

    Returns one row per chunk: ``chunk_id, input_ids[seq_len], seq_id,
    seq_lens, offsets`` — bit-identical content and order to the reference's
    sequential packer run over documents sorted by ``order_col``.
    """
    # Skip empty samples (tokenizer/run.py:153-154), apply EOS policy, and
    # label samples with their global ordinal (the reference's sample_ctr).
    docs = (
        df_tokens.filter(F.size(ids_col) > 0)
        .withColumn("_ids", _with_eos(F.col(ids_col), eos_id, add_eos, ensure_eos))
        .withColumn("_n", F.size("_ids").cast("long"))
        .select(order_col, "_ids", "_n")
    )
    docs, totals = add_global_offsets(
        docs,
        "_n",
        [order_col],
        strategy=prefix_strategy,
        ordinal_col="_sid",
        return_totals=True,
    )
    if totals is not None:
        total, n_samples = totals
    else:
        agg = docs.agg(
            F.coalesce(F.sum("_n"), F.lit(0)).alias("t"), F.count("*").alias("n")
        ).first()
        total, n_samples = int(agg["t"]), int(agg["n"])
    n_full = total // seq_len
    remainder = total - n_full * seq_len

    if not drop_remainder and remainder > 0:
        # Tail pad: a synthetic EOS-fill sample with a fresh sid
        # (tokenizer/run.py:200-214 pads sids with a new id).
        spark = df_tokens.sparkSession
        pad = spark.range(1).select(
            F.lit(None).cast(dict(docs.dtypes)[order_col]).alias(order_col),
            F.array_repeat(F.lit(eos_id), seq_len - remainder).alias("_ids"),
            F.lit(seq_len - remainder).cast("long").alias("_n"),
            F.lit(total).cast("long").alias("start"),
            F.lit(n_samples).cast("long").alias("_sid"),
        )
        docs = docs.unionByName(pad)
        n_full += 1

    n_tokens_kept = n_full * seq_len

    # Explode each doc into (chunk_id, in-chunk position, slice).
    end = F.col("start") + F.col("_n")
    first_chunk = F.floor(F.col("start") / seq_len)
    last_chunk = F.least(
        F.floor((end - 1) / seq_len), F.lit(max(n_full - 1, 0))
    )
    segs = (
        docs.filter(F.col("start") < n_tokens_kept)
        .withColumn("_chunk", F.explode(F.sequence(first_chunk, last_chunk)))
        .withColumn("_cstart", F.greatest(F.col("start"), F.col("_chunk") * seq_len))
        .withColumn(
            "_cend", F.least(end, (F.col("_chunk") + 1) * seq_len)
        )
        .select(
            F.col("_chunk").alias("chunk_id"),
            F.col("_sid"),
            (F.col("_cstart") - F.col("_chunk") * seq_len).alias("seg_pos"),
            F.slice(
                "_ids",
                (F.col("_cstart") - F.col("start") + 1).cast("int"),
                (F.col("_cend") - F.col("_cstart")).cast("int"),
            ).alias("seg_ids"),
        )
    )

    # Assemble chunks: order segments by in-chunk position, flatten, derive
    # seq_id / seq_lens / offsets natively (higher-order array functions).
    chunks = segs.groupBy("chunk_id").agg(
        F.array_sort(
            F.collect_list(F.struct("seg_pos", "_sid", "seg_ids"))
        ).alias("_segs")
    )
    seq_lens = F.transform(F.col("_segs"), lambda s: F.size(s["seg_ids"]))
    offsets = F.aggregate(
        seq_lens,
        F.array(F.lit(0)),
        lambda acc, x: F.concat(acc, F.array(F.element_at(acc, -1) + x)),
    )
    seq_id = F.flatten(
        F.transform(
            F.col("_segs"),
            lambda s, i: F.array_repeat(i, F.size(s["seg_ids"])),
        )
    )
    return (
        chunks.select(
            "chunk_id",
            F.flatten(F.transform(F.col("_segs"), lambda s: s["seg_ids"])).alias(
                "input_ids"
            ),
            seq_id.alias("seq_id"),
            seq_lens.alias("seq_lens"),
            offsets.alias("offsets"),
        )
        .filter(F.size("input_ids") == seq_len)
    )


def packing_meta(
    df_chunks: DataFrame,
    seq_len: int,
    eos_id: int = EOS_ID,
    n_chunks: int | None = None,
) -> dict:
    """packing_meta.json equivalent (T3; tokenizer/run.py:392-408).

    ``n_chunks`` lets a caller that already aggregated the chunk frame
    (e.g. the sink roundtrip report, whose S7 metrics count the same
    read-back shards) pass the count instead of paying a second full
    read of the chunk files for the identical number."""
    if n_chunks is None:
        n_chunks = df_chunks.count()
    return {
        "seq_len": seq_len,
        "eos_id": eos_id,
        "total_chunks": n_chunks,
        "total_tokens_out": n_chunks * seq_len,
    }


def pack_bins_next_fit(
    df: DataFrame,
    key_col: str = "doc_id",
    len_col: str = "n_tokens",
    capacity: int = 96,
    n_buckets: int = 16,
) -> DataFrame:
    """Whole-document next-fit bin packing into fixed-capacity bins.

    The padding-trading counterpart of ``pack_chunks`` (T1): constant-
    length packing concatenates and SPLITS documents across chunk
    boundaries (zero padding, cross-document attention contamination);
    next-fit keeps every document whole in exactly one bin (clean
    attention, padding = whatever the greedy rule leaves). Production
    sequence-packing pipelines pick per corpus; this engine offers both.

    100-TB shape: a bin's contents depend on every earlier document in its
    stream, so the fold is inherently sequential — the parallelism unit is
    therefore the STREAM: shard by a deterministic bucket key
    (``key % n_buckets``; at scale n_buckets = O(cluster cores), each
    bucket packs independently with O(1) state (current fill), Arrow-
    batched via applyInPandas. Only (key, tlen) 12-byte rows shuffle —
    token payloads join back by key afterwards. Documents longer than
    ``capacity`` are truncated to it (splitting is pack_chunks' job).

    Returns one row per document: key_col, bucket, tlen (post-truncation),
    bin_idx (0-based within bucket), bin_offset (token start inside bin).
    Deterministic: buckets pack in ascending key order.
    """
    base = df.select(
        F.col(key_col).cast("long").alias(key_col),
        F.least(F.col(len_col), F.lit(capacity)).cast("int").alias("tlen"),
    ).withColumn("bucket", (F.col(key_col) % n_buckets).cast("int"))

    def pack(pdf):
        pdf = pdf.sort_values(key_col).reset_index(drop=True)
        bin_idx = 0
        fill = 0
        idxs, offs = [], []
        for t in pdf["tlen"]:
            if fill + int(t) > capacity:
                bin_idx += 1
                fill = 0
            idxs.append(bin_idx)
            offs.append(fill)
            fill += int(t)
        pdf["bin_idx"] = idxs
        pdf["bin_offset"] = offs
        return pdf

    schema = (
        f"{key_col} long, tlen int, bucket int, bin_idx int, bin_offset int"
    )
    return base.groupBy("bucket").applyInPandas(pack, schema)
