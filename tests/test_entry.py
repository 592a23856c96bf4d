"""The entry-point contract in __spark_entry__.py: ``entry(spark)`` is the
clean-stage judgment, every oracle (and every name on the full-tier oracle
list) names a registered query, and the registry's shared table reader
never serves another session's schema."""

from __future__ import annotations

import __spark_entry__ as E
from llm_data_pipeline_spark import queries as Q

CLEAN_JUDGE_COLUMNS = [
    "doc_id", "kept", "drop_reason",
    "m_non_ws", "m_alpha_cjk", "m_punct", "m_dup_line",
]


def test_entry_is_clean_judge(spark):
    df = E.entry(spark)
    assert df.columns == CLEAN_JUDGE_COLUMNS
    assert df.count() > 0


def test_every_oracle_names_a_query():
    from test_oracle import FULL_SWEEP_ONLY

    qs, osql = E.queries(), E.oracle_sql()
    assert osql, "no oracle queries registered"
    assert set(osql) <= set(qs)
    # a query deleted from the registry must leave the full-tier list too
    assert FULL_SWEEP_ONLY <= set(qs), FULL_SWEEP_ONLY - set(qs)


def test_registry_has_no_relational_queries():
    assert not [n for n in E.queries() if n.startswith("tpch_")]


def test_table_schema_cache_ignores_recycled_session_address(spark, sf_dir):
    """A dead session's cache entry under the same id() must not leak into
    a live session: the cache is keyed on the application id."""
    from pyspark.sql.types import LongType, StructField, StructType

    path = f"{sf_dir}/documents.parquet"
    real = spark.read.parquet(path).schema
    stale = StructType([StructField("not_a_column", LongType())])
    Q._SCHEMA_CACHE[(id(spark), path)] = stale
    try:
        assert Q.table(spark, sf_dir, "documents").schema == real
    finally:
        Q._SCHEMA_CACHE.pop((id(spark), path), None)
