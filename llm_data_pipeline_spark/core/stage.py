"""Stage runner: the reference's read->transform->write->stats template.

Reproduces step_wrapper (reference core.py:359-497) as a first-class
abstraction: resolve IO paths, read parquet input (+debug limit), run the
transform, write parquet output, and emit the same stats-dict shape
(input_count / output_count / duration_seconds / status).

Spark-specific improvement (SURVEY.md §4.2(2)): the reference executed the
dataset twice per step (count() then write). Here the output row count rides
the write job itself via ``DataFrame.observe``. The input count is still one
extra Spark job per step: ``df_in.count()``, answered from parquet footer
statistics without a data scan.

A failed step records its error string and full traceback in its stats and
hands the exception itself to ``run_pipeline`` under ``EXCEPTION_KEY``, which
the runner pops (it is not JSON) and chains as the cause of its error.
"""

from __future__ import annotations

import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from llm_data_pipeline_spark.core.config import PipelineConfig, step_output_dir

EXCEPTION_KEY = "_exception"


def write_parquet_counted(
    df: DataFrame, path: str, compression: str = "snappy"
) -> int:
    """Overwrite-parquet sink returning the row count from write metrics."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    observed.write.mode("overwrite").option("compression", compression).parquet(path)
    return int(obs.get["rows"])


def read_parquet_limited(
    spark: SparkSession, path: str, limit: int | None = None
) -> DataFrame:
    """S3: parquet scan with the reference's debug record cap
    (core.py:322-324). The limit is declared before any transform so
    Catalyst pushes it into the scan."""
    df = spark.read.parquet(path)
    return df.limit(limit) if limit else df


@dataclass
class Stage:
    """One pipeline step.

    ``transform(spark, df_in, config, base) -> (df_out | None, extra_stats)``.
    ``df_in`` is None for source steps (ingest). A transform returning None
    handles its own sink (e.g. export writes final.bin) and reports counts
    through extra_stats.
    """

    name: str
    input_step: str | None
    transform: Callable[
        [SparkSession, DataFrame | None, PipelineConfig, str],
        tuple[DataFrame | None, dict],
    ]

    def resolve_input_path(self, config: PipelineConfig) -> str | None:
        if self.input_step is None:
            return None
        return step_output_dir(config.output_base, self.input_step)

    def run(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        explicit_input: str | None = None,
    ) -> dict:
        t0 = time.time()
        stats: dict = {"step": self.name, "status": "success"}
        try:
            df_in = None
            in_path = explicit_input or self.resolve_input_path(config)
            if in_path is not None:
                df_in = read_parquet_limited(spark, in_path, config.limit)
                stats["input_path"] = in_path
                # input_count (reference core.py step stats shape): a plain
                # count() on the raw parquet read is answered from file
                # footer statistics (aggregate pushdown) — no data scan.
                # (An Observation riding the write action is NOT reliable
                # here: transforms that localCheckpoint their input truncate
                # lineage and the CollectMetrics node never reports.)
                stats["input_count"] = df_in.count()
            p0 = time.time()
            df_out, extra = self.transform(
                spark, df_in, config, config.output_base
            )
            if df_out is not None:
                out_path = step_output_dir(config.output_base, self.name)
                stats["output_path"] = out_path
                stats["output_count"] = write_parquet_counted(df_out, out_path)
            stats["process_duration_seconds"] = round(time.time() - p0, 3)
            stats.update(extra)
        except Exception as e:  # noqa: BLE001 - stats must record failures
            stats["status"] = "failed"
            stats["error"] = f"{type(e).__name__}: {e}"
            stats["traceback"] = traceback.format_exc()
            stats[EXCEPTION_KEY] = e
        stats["duration_seconds"] = round(time.time() - t0, 3)
        return stats
