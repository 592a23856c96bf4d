from __future__ import annotations

from pyspark.sql import functions as F


def test_cosine_arrow_bit_identical_to_fold(spark, sf_dir):
    """cosine_arrow must equal the native sequential fold BIT FOR BIT on
    the real embeddings cross product — the contract that lets the
    Arrow-batched scorer stand in for the oracle-checked expression."""
    import math
    import struct

    from llm_data_pipeline_spark.functions.vectors import cosine, cosine_arrow
    from llm_data_pipeline_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    joined = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    a = {
        (r.qid, r.vec_id): r.s
        for r in joined.select(
            "qid", "vec_id", cosine(F.col("qv"), F.col("embedding")).alias("s")
        ).collect()
    }
    b = {
        (r.qid, r.vec_id): r.s
        for r in joined.select(
            "qid", "vec_id", cosine_arrow(F.col("qv"), F.col("embedding")).alias("s")
        ).collect()
    }
    assert a.keys() == b.keys() and len(a) > 1000
    assert all(
        struct.pack("d", a[k]) == struct.pack("d", b[k]) for k in a
    )
    # degenerate-row parity: zero norm, nulls, length mismatch (native
    # gives NULL: dot nulls out while both norms stay positive), mismatch
    # with a zero-norm side (native gives 0.0), and mixed dimensions in
    # one batch (must score, not crash np.stack)
    rows = spark.createDataFrame(
        [
            (1, [0.0] * 4, [1.0] * 4),
            (2, None, [1.0] * 4),
            (3, [1.0] * 4, None),
            (4, [1.0, 2.0], [1.0]),
            (5, [0.0, 0.0], [1.0]),
            (6, [1.0, 2.0], [3.0, 4.0]),
            (7, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
            (8, [1e308, 1e308], [1e308, -1e308]),  # overflow -> NaN, not NULL
        ],
        "i long, x array<double>, y array<double>",
    )
    got = {
        r.i: (r.n, r.u)
        for r in rows.select(
            "i",
            cosine(F.col("x"), F.col("y")).alias("n"),
            cosine_arrow(F.col("x"), F.col("y")).alias("u"),
        ).collect()
    }

    def same(n, u):
        if n is None or u is None:
            return n is None and u is None
        return n == u or (math.isnan(n) and math.isnan(u))

    assert all(same(n, u) for n, u in got.values()), got
    assert got[4] == (None, None), got  # NULL parity on mismatch
    # a genuine computed NaN must survive Arrow serialization as NaN
    # (a plain float64 Series would fold it to SQL NULL)
    assert math.isnan(got[8][0]) and math.isnan(got[8][1]), got
