"""Sinks (S6-S8): text shards, packed shards, binary token export.

Reference parity (the S5 parquet sink is ``core/stage.py::
write_parquet_counted``):
- S6 sharded text sink (tokenizer/train.py:25-87): one doc per line,
  newlines flattened, N shards — feeds SentencePiece training.
- S7 packed parquet shards (tokenizer/run.py:220-261): zstd compression,
  ~shard_chunks rows per file via ``maxRecordsPerFile``.
- S8 binary token export (export/run.py:36-163): flatten packed chunks in
  chunk order into one contiguous uint16/int32 token stream; warn when a
  token id overflows uint16 (export/run.py:125-127).

Scale note for S8: the reference streams every shard through the driver.
Here executors write per-range-partition ``.bin`` shards in parallel (they
own disjoint, contiguous chunk ranges, so shard concatenation order ==
partition order) and only the final concat touches one machine.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_text_shards(
    df: DataFrame, path: str, n_shards: int, text_col: str = "text"
) -> None:
    """S6: newline-flattened one-doc-per-line text shards.

    The reference clamps shard count to row count (tokenizer/train.py:61-63);
    Spark's repartition handles empty shards gracefully so no clamp is
    needed, but we keep it to avoid writing empty files.
    """
    flat = df.select(
        F.regexp_replace(F.col(text_col), r"\s*\n\s*", " ").alias("value")
    ).filter(F.length("value") > 0)
    flat.repartition(max(1, n_shards)).write.mode("overwrite").text(path)


def write_packed_parquet(
    df_chunks: DataFrame, path: str, shard_chunks: int = 2048
) -> None:
    """S7: packed chunks as zstd parquet, ~shard_chunks rows per file.

    Spark writes List<int> rather than Arrow FixedSizeList; the fixed-length
    invariant is the packer's ``size(input_ids) == seq_len`` filter
    (SURVEY.md §1.3 — a write-side check, not a type-system extension).
    """
    (
        df_chunks.write.mode("overwrite")
        .option("compression", "zstd")
        .option("maxRecordsPerFile", shard_chunks)
        .parquet(path)
    )


_EXPORT_DTYPES = {"uint16": np.uint16, "int32": np.int32}


def export_binary(
    df_chunks: DataFrame,
    out_dir: str,
    dtype: str = "uint16",
    order_col: str = "chunk_id",
    ids_col: str = "input_ids",
) -> dict:
    """S8: flatten chunk token ids (in chunk order) into final.bin.

    Range-partitions on chunk order; each partition writes
    ``shards/part-NNNNN.bin`` (parallel, shared-FS contract like the
    reference's Parquet dirs) and the driver concatenates them in partition
    order. ``dtype`` is ``"uint16"`` or ``"int32"``; anything else raises
    ``ValueError`` before a file is written.

    Returns {"path", "total_tokens", "n_overflow", "dtype"} — n_overflow
    counts uint16 ids that wrapped (the reference logs a warning per
    overflow batch), counted by the same pass that writes the shards.
    """
    if dtype not in _EXPORT_DTYPES:
        raise ValueError(
            f"export dtype must be one of {sorted(_EXPORT_DTYPES)}, got {dtype!r}"
        )
    np_dtype = _EXPORT_DTYPES[dtype]
    check_overflow = dtype == "uint16"
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, "final.bin")

    spark = df_chunks.sparkSession
    num_partitions = max(2, spark.sparkContext.defaultParallelism)
    shard_dir = os.path.join(out_dir, "shards")
    os.makedirs(shard_dir, exist_ok=True)
    for old in os.listdir(shard_dir):
        os.remove(os.path.join(shard_dir, old))

    parted = df_chunks.select(order_col, ids_col).repartitionByRange(
        num_partitions, order_col
    ).sortWithinPartitions(order_col)

    def _write_shard(it):
        import numpy as _np

        pid = None
        buf = []
        n_overflow = 0
        for row in it:
            if pid is None:
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
            # int64 first, then astype: astype wraps out-of-range ids
            # portably (numpy>=2.0 raises on direct asarray(uint16)).
            ids = _np.asarray(row[1], dtype=_np.int64)
            if check_overflow:
                n_overflow += int(_np.count_nonzero(ids >= 65536))
            buf.append(ids.astype(np_dtype))
        if pid is None:
            return iter(())
        data = _np.concatenate(buf) if buf else _np.empty(0, dtype=np_dtype)
        shard = os.path.join(shard_dir, f"part-{pid:05d}.bin")
        with open(shard, "wb") as f:
            f.write(data.tobytes())
        return iter([(pid, len(data), n_overflow)])

    shards = sorted(parted.rdd.mapPartitions(_write_shard).collect())
    total = 0
    with open(final, "wb") as f:
        for pid, n_tokens, _ in shards:
            shard = os.path.join(shard_dir, f"part-{pid:05d}.bin")
            with open(shard, "rb") as s:
                f.write(s.read())
            total += n_tokens
    return {
        "path": final,
        "total_tokens": total,
        "n_overflow": sum(n for *_, n in shards),
        "dtype": dtype,
    }
