"""Stage-level profile for selected queries: per-stage task time, task
count, shuffle bytes, and the stage's first line of the plan description.

Usage: python scripts/profile_stages.py q33_minhash_neardup [more ...]
"""
import json
import os
import sys
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
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile-stages")
    warm(spark, sf_dir)
    app_id = api("applications")[0]["id"]

    for name in names:
        spark.sparkContext.setJobDescription(name)
        seen = {s["stageId"] for s in api(f"applications/{app_id}/stages")}
        df = QUERIES[name].fn(spark, sf_dir)
        df.count()
        clear_query_cache(spark)
        print(f"\n=== {name} ===")
        stages = [
            s
            for s in api(f"applications/{app_id}/stages?status=complete")
            if s["stageId"] not in seen
        ]
        for s in sorted(stages, key=lambda s: -s.get("executorRunTime", 0)):
            desc = (s.get("description") or s.get("name", ""))[:90]
            print(
                f"  stage {s['stageId']:4d} taskt={s['executorRunTime']/1000.0:8.2f}s "
                f"tasks={s['numCompleteTasks']:4d} "
                f"in={s.get('inputBytes',0)>>10}K sh_r={s.get('shuffleReadBytes',0)>>10}K "
                f"sh_w={s.get('shuffleWriteBytes',0)>>10}K  {s.get('name','')[:60]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
