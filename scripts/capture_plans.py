"""Capture .explain("formatted") output for registered queries.

Usage: python scripts/capture_plans.py SUFFIX name1 name2 ...

Writes plans/r09/<name>_<SUFFIX>.txt (SUFFIX = before | after) at the repo
root. The plan is the PRE-execution formatted physical plan (AdaptiveSparkPlan
isFinalPlan=false) — the structural shape (Exchange count, join strategy,
PushedFilters/ReadSchema, Python eval nodes) the optimization round argues
from, captured without paying a full execution per query.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from llm_data_pipeline_spark.queries import REGISTRY, load_all  # noqa: E402
from llm_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_all()
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PLANS_ROUND", "r10"),
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — {suffix} (sf_dir={sf_dir})\n\n")
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
