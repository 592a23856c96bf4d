"""Single-slice local DataFrames.

``SparkSession.createDataFrame(local_rows)`` parallelizes the rows over
``defaultParallelism`` Python-RDD partitions. Every later evaluation of the
frame then costs one Python-worker round trip PER PARTITION (~0.15-0.2 s
each of pure handshake at local[32]), and a downstream ``coalesce(1)``
drains all of them SEQUENTIALLY inside one task — measured 5.5-7.5 s to
write a 5-row request frame, ~25x the data's cost. The frames built from
driver-local literals here (request ids, DSU component maps,
probe fixtures) are small by construction, so slice them to
``len(rows) / rows_per_slice`` partitions (usually ONE): one Python round
trip per evaluation, and a single-partition frame also broadcasts and
coalesces for free. On a cluster nothing changes — local literals are
driver-bound either way; this only removes per-partition Python overhead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_df(
    spark: SparkSession, rows, schema, rows_per_slice: int = 50_000
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with a bounded slice count
    (ceil(len/rows_per_slice), min 1) instead of defaultParallelism.

    ``rows`` must hold plain Python scalars (int / float / str / bool /
    None, or lists of them). The rows travel as an RDD, which skips the
    driver-side type coercion ``createDataFrame(list)`` applies, so a
    Decimal, datetime or numpy scalar fails at executor deserialization
    instead of at creation. Convert such values before calling."""
    rows = rows if isinstance(rows, list) else list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    n = -(-len(rows) // rows_per_slice)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema
    )
