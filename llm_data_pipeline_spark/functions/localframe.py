"""Single-slice local DataFrames, and the driver size gate.

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

The driver paths that collect data-sized rows (operators.lsh's dedup and
component paths, operators.packing's offsets) share one bounded collect
shape, :func:`bounded_rows`, and lsh's paths one row bound,
DRIVER_MAX_ROWS (packing has its own, measured for its path). The gates
read their bound at call time, so tests force the distributed side by
patching it.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Row bound of the driver-side dedup paths: minhash_dedup's band rows,
# connected_components' edge collect and the indexed screen's two probes.
DRIVER_MAX_ROWS = 1_000_000


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


def bounded_rows(df: DataFrame, max_rows: int) -> DataFrame:
    """``df`` cut to ``max_rows + 1`` rows, every row carrying the cut's row
    count ``_bound_n``. Past the bound only one row is left, so a large
    frame collects one row, not ``max_rows + 1`` (:func:`fits_driver`
    reads the collected count).

    The upstream of ``df`` stays parallel: each input partition stops after
    ``max_rows + 1`` rows, and only those rows of ``df``'s own columns
    shuffle into the one partition that takes the limit and the count. A
    one-partition ``df`` plans no shuffle, and its one task stops reading
    after ``max_rows + 1`` rows."""
    return (
        df.limit(max_rows + 1)
        .withColumn("_bound_n", F.count("*").over(Window.partitionBy()))
        .where(
            (F.col("_bound_n") <= max_rows)
            | (F.monotonically_increasing_id() == 0)
        )
    )


def fits_driver(rows: pa.Table, max_rows: int) -> bool:
    """Whether a collected :func:`bounded_rows` frame is within
    ``max_rows``."""
    return rows.num_rows == 0 or rows.column("_bound_n")[0].as_py() <= max_rows
