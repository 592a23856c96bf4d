"""Profile registered queries: steady-state wall time + per-stage attribution.

Usage: SPARK_UI_ENABLED=true python scripts/profile_query.py name1 [name2 ...]

Methodology: first pass pays codegen, then N steady passes
after cache/persistent-RDD cleanup and a GC pulse. With the UI enabled, the
per-stage breakdown of the LAST steady pass is pulled from the local REST API
so time is attributed to operators (scan / exchange / python eval), per guide
section 1/7. Profiling tool only — never part of a graded query path.
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


def _clean(spark) -> None:
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)


def _jobs_since(ui_url: str, app_id: str, since_job: int) -> int:
    try:
        with urllib.request.urlopen(
            f"{ui_url}/api/v1/applications/{app_id}/jobs", timeout=5
        ) as r:
            jobs = json.load(r)
    except Exception:  # noqa: BLE001
        return -1
    return len([j for j in jobs if j["jobId"] > since_job])


def _max_job_id(ui_url: str, app_id: str) -> int:
    try:
        with urllib.request.urlopen(
            f"{ui_url}/api/v1/applications/{app_id}/jobs", timeout=5
        ) as r:
            jobs = json.load(r)
        return max([j["jobId"] for j in jobs], default=-1)
    except Exception:  # noqa: BLE001
        return -1


def _stages(ui_url: str, app_id: str, since_stage: int) -> list[dict]:
    try:
        with urllib.request.urlopen(
            f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=5,
        ) as r:
            stages = json.load(r)
    except Exception as e:  # noqa: BLE001
        print(f"  (stage fetch failed: {e})")
        return []
    out = [s for s in stages if s["stageId"] > since_stage]
    out.sort(key=lambda s: -s.get("executorRunTime", 0))
    return out


def main() -> None:
    names = sys.argv[1:]
    reps = int(os.environ.get("PROFILE_REPS", "2"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_UI_ENABLED", "true")
    load_all()
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    ui_url = "http://localhost:4040"
    app_id = spark.sparkContext.applicationId

    for name in names:
        fn = REGISTRY[name].fn
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        _ = df.count() if len(df.columns) > 8 else len(df.collect())
        first = time.perf_counter() - t0
        steadies = []
        last_stage_before = -1
        n_jobs = -1
        for i in range(reps):
            _clean(spark)
            del df
            gc.collect()
            # remember the max stage/job id before the measured pass
            try:
                with urllib.request.urlopen(
                    f"{ui_url}/api/v1/applications/{app_id}/stages", timeout=5
                ) as r:
                    all_stages = json.load(r)
                last_stage_before = max(
                    [s["stageId"] for s in all_stages], default=-1
                )
            except Exception:  # noqa: BLE001
                last_stage_before = -1
            job_before = _max_job_id(ui_url, app_id)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            _ = df.count() if len(df.columns) > 8 else len(df.collect())
            steadies.append(time.perf_counter() - t0)
            n_jobs = _jobs_since(ui_url, app_id, job_before)
        print(
            f"\n=== {name}: first={first:.3f}s steady="
            f"{[round(s, 3) for s in steadies]} jobs/pass={n_jobs}"
        )
        for s in _stages(ui_url, app_id, last_stage_before)[:12]:
            ms = s.get("executorRunTime", 0)
            print(
                f"  stage {s['stageId']:>4} run={ms / 1000:7.2f}s "
                f"tasks={s.get('numCompleteTasks', 0):>3} "
                f"in={s.get('inputBytes', 0) >> 20:>5}M "
                f"sr={s.get('shuffleReadBytes', 0) >> 20:>4}M "
                f"sw={s.get('shuffleWriteBytes', 0) >> 20:>4}M  "
                f"{(s.get('description') or s.get('name', ''))[:90]}"
            )
        _clean(spark)


if __name__ == "__main__":
    main()
