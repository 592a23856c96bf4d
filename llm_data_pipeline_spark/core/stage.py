"""Stage runner: the reference's read->transform->write->stats template.

Reproduces step_wrapper (reference core.py:359-497) as a first-class
abstraction: resolve IO paths, read parquet input (+debug limit), run the
transform, write parquet output, and emit the same stats-dict shape
(input_count / output_count / duration_seconds / status).

Spark-specific improvement (SURVEY.md §4.2(2)): the reference executed the
dataset twice per step (count() then write). Here the output row count rides
the write job itself via ``DataFrame.observe``, and a step hands its written
output to the runner as a :class:`StepOutput` (path, schema, row count).
``run_pipeline`` passes it to the consumer step, which reads its input with
that schema and takes its input count from it (capped at ``config.limit``):
no schema inference and no count job. The first step of a slice, an
explicit input path and a step whose producer did not run in this call
still infer the schema and count their input (one Spark job, answered from
parquet footer statistics without a data scan).

A failed step records its error string and full traceback in its stats and
hands the exception itself to ``run_pipeline`` under ``EXCEPTION_KEY``, which
the runner pops (it is not JSON) and chains as the cause of its error.
"""

from __future__ import annotations

import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from llm_data_pipeline_spark.core.config import PipelineConfig, step_output_dir

EXCEPTION_KEY = "_exception"
# stats key of the step's StepOutput, popped by run_pipeline (not JSON)
OUTPUT_KEY = "_output"


class StepOutput(NamedTuple):
    """A step output written in this run: its path, the schema it was
    written with and its row count."""

    path: str
    schema: StructType
    count: int


def write_parquet_counted(
    df: DataFrame, path: str, compression: str = "snappy"
) -> int:
    """Overwrite-parquet sink returning the row count from write metrics."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    observed.write.mode("overwrite").option("compression", compression).parquet(path)
    return int(obs.get["rows"])


def read_parquet_limited(
    spark: SparkSession,
    path: str,
    limit: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """S3: parquet scan with the reference's debug record cap
    (core.py:322-324). The limit is declared before any transform so
    Catalyst pushes it into the scan. A known ``schema`` skips inference
    (the footer read plus listing)."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    return df.limit(limit) if limit else df


@dataclass
class Stage:
    """One pipeline step.

    ``transform(spark, df_in, config, base, n_in) -> (df_out | None,
    extra_stats)``. ``df_in`` and its row count ``n_in`` are None for
    source steps (ingest). A transform returning None handles its own sink
    (e.g. export writes final.bin) and reports counts through extra_stats.
    """

    name: str
    input_step: str | None
    transform: Callable[
        [SparkSession, DataFrame | None, PipelineConfig, str, int | None],
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
        explicit_input: str | StepOutput | None = None,
    ) -> dict:
        """Run the step. ``explicit_input`` is an input path to read instead
        of the input step's directory, or the input step's StepOutput from
        this run. On success the stats hold this step's own StepOutput
        under OUTPUT_KEY."""
        t0 = time.time()
        stats: dict = {"step": self.name, "status": "success"}
        try:
            df_in = n_in = None
            source = explicit_input or self.resolve_input_path(config)
            if isinstance(source, StepOutput):
                df_in = read_parquet_limited(
                    spark, source.path, config.limit, source.schema
                )
                stats["input_path"] = source.path
                n_in = source.count
                if config.limit:
                    n_in = min(n_in, config.limit)
            elif source is not None:
                df_in = read_parquet_limited(spark, source, config.limit)
                stats["input_path"] = source
                # a plain count() on the raw parquet read is answered from
                # file footer statistics (aggregate pushdown) — no data
                # scan. (An Observation riding the write action is NOT
                # reliable here: transforms that localCheckpoint their
                # input truncate lineage and the CollectMetrics node never
                # reports.)
                n_in = df_in.count()
            if df_in is not None:
                stats["input_count"] = n_in
            p0 = time.time()
            df_out, extra = self.transform(
                spark, df_in, config, config.output_base, n_in
            )
            if df_out is not None:
                out_path = step_output_dir(config.output_base, self.name)
                stats["output_path"] = out_path
                n_out = write_parquet_counted(df_out, out_path)
                stats["output_count"] = n_out
                stats[OUTPUT_KEY] = StepOutput(out_path, df_out.schema, n_out)
            stats["process_duration_seconds"] = round(time.time() - p0, 3)
            stats.update(extra)
        except Exception as e:  # noqa: BLE001 - stats must record failures
            stats["status"] = "failed"
            stats["error"] = f"{type(e).__name__}: {e}"
            stats["traceback"] = traceback.format_exc()
            stats[EXCEPTION_KEY] = e
        stats["duration_seconds"] = round(time.time() - t0, 3)
        return stats
