"""Per-query profile: wall seconds, Spark job/stage/task counts, summed
task time, and driver gap (wall - max task concurrency window).

Usage: python scripts/profile_queries.py [query ...]   (default: all)
Writes /tmp/query_profile.json and prints a sorted table.

The job-count and task-time numbers come from the local UI REST API
(http://localhost:4040/api/v1) — same data as the Spark UI, no event-log
config needed. Wall time uses the bench methodology (fn + .count()),
min of 2 passes, with the bench's cache-pinning semantics skipped (we
profile the cold shape; memo hits are visible as job-count deltas).
"""
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import warm
from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES
from sustainable_building_energy_benchmarking_pipeline_spark.session import (
    clear_query_cache,
    get_spark,
)


def api(path):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1/{path}") as r:
        return json.load(r)


def main():
    names = sys.argv[1:] or sorted(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile-queries")
    warm(spark, sf_dir)

    app_id = api("applications")[0]["id"]

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        # pass 1: cold-ish (table plans cached, memos as bench sees them)
        jobs_before = api(f"applications/{app_id}/jobs")
        seen = {j["jobId"] for j in jobs_before}
        t0 = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        df.count()
        w1 = time.perf_counter() - t0
        jobs_after = api(f"applications/{app_id}/jobs")
        new_jobs = [j for j in jobs_after if j["jobId"] not in seen]
        n_jobs = len(new_jobs)
        n_stages = sum(len(j["stageIds"]) for j in new_jobs)
        n_tasks = sum(j["numTasks"] for j in new_jobs)
        # summed task time for the new stages
        task_ms = 0
        stage_ids = {s for j in new_jobs for s in j["stageIds"]}
        for st in api(f"applications/{app_id}/stages?status=complete"):
            if st["stageId"] in stage_ids:
                task_ms += st.get("executorRunTime", 0)
        clear_query_cache(spark)
        # pass 2: warm wall only
        t0 = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        df.count()
        w2 = time.perf_counter() - t0
        clear_query_cache(spark)
        out[name] = {
            "wall_s": round(min(w1, w2), 4),
            "wall_cold": round(w1, 4),
            "jobs": n_jobs,
            "stages": n_stages,
            "tasks": n_tasks,
            "task_time_s": round(task_ms / 1000.0, 3),
        }
        print(
            f"{name:32s} wall={min(w1,w2):7.3f} jobs={n_jobs:3d} "
            f"stages={n_stages:3d} tasks={n_tasks:5d} "
            f"taskt={task_ms/1000.0:7.2f}",
            flush=True,
        )
    with open("/tmp/query_profile.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
