"""First-pass decomposition for one or more queries: where does the
first-pass-vs-steady gap go — jobs (and which), or driver gaps between jobs
(planning/codegen/py4j)?

Usage: python scripts/profile_first_pass.py name1 [name2 ...]

Runs each query ONCE in this fresh process (the cold first-pass
condition: cold codegen cache, artifacts not yet built), then once steady,
and prints per-pass job timelines from the REST API: each job's duration +
description, plus the summed job time vs wall time (the difference is
driver-side gap). Profiling tool only — never part of a graded query path.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from llm_data_pipeline_spark.queries import REGISTRY, load_all  # noqa: E402
from llm_data_pipeline_spark.session import get_spark  # noqa: E402


def _jobs(ui_url: str, app_id: str) -> list[dict]:
    with urllib.request.urlopen(
        f"{ui_url}/api/v1/applications/{app_id}/jobs", timeout=5
    ) as r:
        return json.load(r)


def _parse_ts(s: str) -> float:
    from datetime import datetime

    return datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def _report(ui_url, app_id, since_job, wall, label):
    jobs = [j for j in _jobs(ui_url, app_id) if j["jobId"] > since_job]
    jobs.sort(key=lambda j: j["jobId"])
    total = 0.0
    print(f"  --- {label}: wall={wall:.3f}s n_jobs={len(jobs)}")
    for j in jobs:
        t0 = _parse_ts(j["submissionTime"])
        t1 = _parse_ts(j["completionTime"]) if "completionTime" in j else t0
        dur = t1 - t0
        total += dur
        if dur >= 0.05:
            print(
                f"    job {j['jobId']:>4} {dur:6.2f}s  "
                f"{(j.get('description') or j.get('name', ''))[:100]}"
            )
    print(
        f"    sum(job durations)={total:.3f}s  driver gaps+overlap="
        f"{wall - total:.3f}s"
    )


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ["SPARK_UI_ENABLED"] = "true"
    load_all()
    spark = get_spark("profile-first")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    ui_url = "http://localhost:4040"
    app_id = spark.sparkContext.applicationId

    for name in names:
        fn = REGISTRY[name].fn
        since = max(j["jobId"] for j in _jobs(ui_url, app_id))
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        _ = df.count() if len(df.columns) > 8 else len(df.collect())
        first = time.perf_counter() - t0
        print(f"\n=== {name}")
        _report(ui_url, app_id, since, first, "first pass")

        spark.catalog.clearCache()
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
        del df
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.3)
        since = max(j["jobId"] for j in _jobs(ui_url, app_id))
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        _ = df.count() if len(df.columns) > 8 else len(df.collect())
        steady = time.perf_counter() - t0
        _report(ui_url, app_id, since, steady, "steady pass")


if __name__ == "__main__":
    main()
