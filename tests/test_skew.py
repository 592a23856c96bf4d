"""Skew-handling and bucketing tests: correctness + plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_data_pipeline_spark.operators.skew import (
    read_bucketed_join,
    salted_group_count,
    salted_join,
    write_bucketed,
)
from llm_data_pipeline_spark.plans.inspect import formatted_plan


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (0) with 5000 rows, 50 cold keys with 10 each
    hot = spark.range(5000).select(F.lit(0).alias("k"), F.col("id").alias("v"))
    cold = spark.range(500).select(
        (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("v")
    )
    return hot.unionByName(cold)


def test_salted_join_matches_plain_join(spark, skewed):
    dim = spark.range(51).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    plain = skewed.join(dim, "k").groupBy("k").count()
    salted = salted_join(skewed, dim, "k", n_salts=4).groupBy("k").count()
    assert {tuple(r) for r in plain.collect()} == {
        tuple(r) for r in salted.collect()
    }


def test_salted_group_count_correct(skewed):
    got = {r["k"]: r["n"] for r in salted_group_count(skewed, "k").collect()}
    assert got[0] == 5000
    assert all(got[k] == 10 for k in range(1, 51))


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    a = spark.range(1000).select(F.col("id").alias("k"), F.lit(1).alias("a"))
    b = spark.range(1000).select(F.col("id").alias("k"), F.lit(2).alias("b"))
    write_bucketed(a, "t_bucket_a", "k", n_buckets=4, path=f"{tmp_path}/a")
    write_bucketed(b, "t_bucket_b", "k", n_buckets=4, path=f"{tmp_path}/b")
    try:
        joined = read_bucketed_join(spark, "t_bucket_a", "t_bucket_b", "k")
        assert joined.count() == 1000
        plan = formatted_plan(joined)
        # co-located buckets: no shuffle Exchange feeding the join
        import re

        assert not re.search(r"\(\d+\) Exchange\b", plan), plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_graded_bucketed_join_plan_is_shuffle_free(spark, sf_dir):
    """The graded query joins two co-bucketed facts: the SortMergeJoin must
    consume the bucketed scans directly — the only exchanges allowed are
    the final aggregate + ORDER BY (2), never the join inputs (4 if
    bucketing were ignored)."""
    from llm_data_pipeline_spark.plans import inspect as I
    from llm_data_pipeline_spark.queries import REGISTRY, load_all

    load_all()
    df = REGISTRY["bucketed_colocated_join"].fn(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert "SortMergeJoin" in plan
    assert I.broadcast_join_count(df) == 0
    assert I.shuffle_count(df) <= 2


def test_rendezvous_minimal_movement(spark):
    """Growing n -> n+1 must move keys ONLY onto the new shard, and
    roughly 1/(n+1) of them."""
    from pyspark.sql import functions as F

    from llm_data_pipeline_spark.operators.skew import rendezvous_assign

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a = rendezvous_assign(df, n_shards=8, out_col="old")
    b = rendezvous_assign(a, n_shards=9, out_col="new")
    rows = b.collect()
    moved = [r for r in rows if r.old != r.new]
    assert all(r.new == 8 for r in moved)  # every move lands ON the new shard
    frac = len(moved) / len(rows)
    assert 0.05 < frac < 0.18  # expected 1/9 ~ 0.11
    # deterministic across partitionings
    again = {
        r.doc_id: (r.old, r.new)
        for r in rendezvous_assign(
            rendezvous_assign(df.repartition(7), n_shards=8, out_col="old"),
            n_shards=9,
            out_col="new",
        ).collect()
    }
    assert again == {r.doc_id: (r.old, r.new) for r in rows}


def test_band_index_join_keeps_index_unshuffled(spark, sf_dir):
    """The persisted band index's bucketed layout must serve the
    incremental join WITHOUT re-shuffling the index side: the index scan
    shows bucket selection and the only Exchange under the band join is
    the increment side's. (The physical claim behind
    minhash_bucketed_index_dedup.)"""
    import os

    from pyspark.sql import functions as F

    from llm_data_pipeline_spark.operators.lsh import band_index_rows
    from llm_data_pipeline_spark.functions.hashing import portable_hash60
    from llm_data_pipeline_spark.operators.minhash import add_minhash
    from llm_data_pipeline_spark.operators.skew import write_bucketed
    from llm_data_pipeline_spark.plans import inspect as I
    from llm_data_pipeline_spark.queries import table
    from llm_data_pipeline_spark.queries_sinks import SINK_BASE

    os.makedirs(SINK_BASE, exist_ok=True)
    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    t = f"bkt_band_index_test_{os.getpid()}"
    write_bucketed(
        band_index_rows(
            add_minhash(
                base.where(F.col("doc_id") < 100), hash_fn=portable_hash60
            ),
            rows_per_band=8,
        ),
        t, "bh", 8, path=f"{SINK_BASE}/{t}",
    )
    # a range, not limit(50): limit's SinglePartition exchange is not the
    # band join's and would count here
    inc = base.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    bn = band_index_rows(
        add_minhash(inc, hash_fn=portable_hash60), rows_per_band=8
    )
    joined = spark.table(t).hint("merge").join(bn, "bh")
    plan = I.formatted_plan(joined)
    assert "SortMergeJoin" in plan
    # exactly ONE exchange: the increment side; the bucketed index scan
    # feeds the join through sort only
    assert I.shuffle_count(joined) == 1
