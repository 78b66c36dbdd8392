"""Min-of-N per-query wall timer, bench-identical methodology (fn +
.count(), warmup as in bench.py, per-query memo pinning as in bench.py).

Usage: python scripts/ab_time.py [-n N] query [query ...]
Prints one line per query: name min median all-samples.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import warm
from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES
from sustainable_building_energy_benchmarking_pipeline_spark.session import (
    SessionMemo,
    clear_query_cache,
    get_spark,
)


def main():
    args = sys.argv[1:]
    n = 5
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab-time")
    warm(spark, sf_dir)
    snaps = {}

    def run_one(name):
        SessionMemo.restore(snaps.setdefault(name, SessionMemo.snapshot()))
        t0 = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        df.count()
        el = time.perf_counter() - t0
        clear_query_cache(spark)
        return el

    for name in names:
        spark.sparkContext.setJobDescription(name)
        ts = sorted(run_one(name) for _ in range(n))
        print(
            f"{name:32s} min={ts[0]:7.3f} med={ts[len(ts)//2]:7.3f} "
            f"all=[{', '.join(f'{t:.3f}' for t in ts)}]",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
