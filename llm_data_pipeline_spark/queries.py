"""Query registry: every graded operator exposed as (spark_fn, oracle_sql).

Each entry maps a name to a callable ``(spark, sf_dir) -> DataFrame`` and an
optional ANSI-SQL oracle string that DuckDB runs over the same parquet tables
(views: region nation customer supplier part orders lineitem events documents
embeddings). The driver hash-compares values order-insensitively, so every
query ends with a deterministic ORDER BY and aliases every computed column
identically on both sides.

Determinism policy:
- per-row arithmetic (ratios = int/int divisions, regex counts) is left as
  raw doubles — IEEE division is bit-identical across engines;
- aggregated doubles (SUM/AVG over shuffled data) are rounded (2-4 dp) since
  summation order differs between engines;
- integer sums are cast to BIGINT on the DuckDB side (DuckDB widens to
  HUGEINT, Spark stays BIGINT).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a graded query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


# DataFrameReader.parquet() without an explicit schema re-infers it on the
# driver EVERY call — file listing plus a footer read, measured ~110 ms per
# call (cProfile: five table() reads were 0.57 s of one 0.84 s query build).
# The schema of an immutable input file is metadata, not data: infer it once
# per (session, path) and hand it back explicitly on every later read, which
# skips the footer pass entirely. Every query still scans the parquet for
# its rows — only the schema round trip is saved (guide §6: explicit
# schemas; the same reason schema inference is off for production JSONL).
# The session half of every cache key in this package is the application
# id, not id(spark): CPython reuses object ids after GC, so an id()-keyed
# cache could serve a dead session's stale entry to a new one.
_SCHEMA_CACHE: dict[tuple, object] = {}


def table(
    spark: SparkSession, sf_dir: str, name: str, scatter: bool = False
) -> DataFrame:
    # The driver may hand us a session built without session.py's confs;
    # nanosAsLong is runtime-settable and lets older Spark read
    # TIMESTAMP(NANOS) parquet (as longs) instead of failing
    # PARQUET_TYPE_ILLEGAL. Spark 4.1+ ignores it and reads NTZ natively.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    skey = (spark.sparkContext.applicationId, path)
    schema = _SCHEMA_CACHE.get(skey)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[skey] = schema
    df = spark.read.schema(schema).parquet(path)
    # Canonicalize event time to TIMESTAMP_NTZ whatever the read produced
    # (long nanos / NTZ / instant) — tz-independent, matches DuckDB.
    from llm_data_pipeline_spark.functions.time import normalize_ts_ntz

    df = normalize_ts_ntz(df, "ts")
    if scatter:
        # Opt-in per consumer: only CPU-heavy narrow pipelines (shingling/
        # signature UDFs, regex cleaning, vector math) ask for it — a blanket
        # repartition taxed cheap consumers with a full exchange (round-2
        # regression: multimodal 0.7→2.0 s, pack 3.2→5.2 s).
        df = _scatter(df, _cache_key=(sf_dir, name))
    return df


# scatter()'s under-parallelism probe (`df.rdd.getNumPartitions()`) forces
# analysis + physical planning + an RDD conversion of the scan plan on the
# DRIVER — ~20-40 ms per call, paid several times per query across the
# registry. The answer only depends on the immutable input file layout and
# the session's parallelism, so memoize it per (session, _cache_key).
_SCATTER_DECISION: dict[tuple, bool] = {}


def scatter(df: DataFrame, _cache_key: tuple | None = None) -> DataFrame:
    """Restore parallelism lost to single-row-group test files.

    The driver's sf* parquet files hold one row group each, so a scan
    arrives as ONE partition and any CPU-heavy narrow pipeline on top
    (shingling, signature UDFs, regex cleaning) serializes on one core
    until its first shuffle. On a real cluster the scan already has >=
    defaultParallelism splits and this returns the frame untouched — the
    repartition exists only when the scan is provably under-parallel, so
    plans at scale carry no extra exchange.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    key = None if _cache_key is None else (sc.applicationId, _cache_key, target)
    if key is not None and key in _SCATTER_DECISION:
        under_parallel = _SCATTER_DECISION[key]
    else:
        under_parallel = df.rdd.getNumPartitions() < max(2, target // 2)
        if key is not None:
            _SCATTER_DECISION[key] = under_parallel
    if under_parallel:
        return df.repartition(target)
    return df


_scatter = scatter  # unshadowed alias for table()'s keyword parameter


def load_all() -> None:
    """Import every query module so their @query decorators run."""
    import llm_data_pipeline_spark.queries_pipeline  # noqa: F401
    import llm_data_pipeline_spark.queries_pii  # noqa: F401
    import llm_data_pipeline_spark.queries_dedup  # noqa: F401
    import llm_data_pipeline_spark.queries_text  # noqa: F401
    import llm_data_pipeline_spark.queries_tokenize  # noqa: F401
    import llm_data_pipeline_spark.queries_streaming  # noqa: F401
    import llm_data_pipeline_spark.queries_heuristics  # noqa: F401
    import llm_data_pipeline_spark.queries_ingest  # noqa: F401
    import llm_data_pipeline_spark.queries_e2e  # noqa: F401
    import llm_data_pipeline_spark.queries_sinks  # noqa: F401
    import llm_data_pipeline_spark.queries_corpus  # noqa: F401
    import llm_data_pipeline_spark.queries_trainprep  # noqa: F401
    import llm_data_pipeline_spark.queries_storage  # noqa: F401


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    load_all()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_queries() -> dict[str, str]:
    load_all()
    return {n: s.oracle for n, s in REGISTRY.items() if s.oracle is not None}
