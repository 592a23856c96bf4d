"""llm_data_pipeline_spark — a PySpark-native LLM training-data engine.

A brand-new engine (DataFrame / Spark SQL first) with the data-processing
capabilities of the reference pipeline surveyed in SURVEY.md: ingest →
clean → quality → pii → minhash dedup → clustering → tokenize → pack →
export, plus large-scale extensions (exact/fuzzy dedup families, text
analysis and streaming) designed for 100 TB-scale Spark
clusters. The reference is text-only, and so is this engine.

Everything is expressed as Catalyst-optimizable Column expressions where
possible; Arrow-vectorized pandas UDFs only where a Python model is
genuinely required.
"""

__version__ = "0.1.0"

from llm_data_pipeline_spark.session import get_spark  # noqa: F401
