"""Clean stage: heuristic text filtering (100% native Columns).

Capability parity with the reference clean step (SURVEY.md §2, C1-C3/P7;
reference clean/step.py:30-98, clean/run.py:72-140) expressed Spark-first:

- one scored DataFrame carries ``kept``/``drop_reason``/metric columns;
- the kept/dropped split is two cheap filters over the *same* plan — callers
  that need both should ``persist()`` the scored frame once instead of
  re-running the scan per branch (the reference recomputed lineage per
  branch, SURVEY.md §4.2(2));
- no shuffle anywhere: this stage is a single narrow map over the scan, so
  at 100 TB it scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.text import (
    CleanThresholds,
    basic_clean,
    clean_judgment,
)


def score_documents(
    df: DataFrame,
    text_col: str = "text",
    rules: CleanThresholds | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Append ``kept, drop_reason, m_non_ws, m_alpha_cjk, m_punct, m_dup_line``.

    If ``normalize``, the text column is first passed through basic_clean
    (CRLF->LF, strip, collapse blank runs) and the normalized text replaces
    the original, matching the reference's clean step behaviour.
    """
    text = F.col(text_col)
    if normalize:
        df = df.withColumn(text_col, basic_clean(text))
    cols = clean_judgment(F.col(text_col), rules)
    return df.withColumns(cols)


def split_kept(df_scored: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Return (kept, dropped) views over an already-scored frame.

    Persist ``df_scored`` before materializing both sides to avoid double
    computation of the upstream scan.
    """
    return df_scored.filter(F.col("kept")), df_scored.filter(~F.col("kept"))


def drop_reason_distribution(df_scored: DataFrame) -> DataFrame:
    """Group-count of drop reasons — the stage's headline stats query."""
    return df_scored.groupBy("drop_reason").agg(F.count("*").alias("n_docs"))
