"""Interleaved A/B of a runtime SQL conf, bench-identical methodology.

Usage: python scripts/ab_conf.py -n N conf_key valueA valueB query [query ...]

Runs each query 2N times in ONE session, alternating the conf between
passes (A B A B ...) — AQE/runtime confs are read per execution, so both
arms share the identical JVM, warmed workers, and whatever host-load
bursts hit the window, which is what makes the comparison honest on a
bursty box. Prints min/median per arm per query.
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
    key, val_a, val_b, *names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab-conf")
    warm(spark, sf_dir)

    def run_one(name):
        snap = SessionMemo.snapshot()
        t0 = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        df.count()
        dt = time.perf_counter() - t0
        SessionMemo.restore(snap)
        clear_query_cache(spark)
        return dt

    for name in names:
        samples = {val_a: [], val_b: []}
        # one untimed warm pass per arm so codegen/caches don't bias arm A
        for v in (val_a, val_b):
            spark.conf.set(key, v)
            run_one(name)
        for _ in range(n):
            for v in (val_a, val_b):
                spark.conf.set(key, v)
                samples[v].append(run_one(name))
        for v in (val_a, val_b):
            s = sorted(samples[v])
            print(
                f"{name:32s} {key.split('.')[-1]}={v:6s} "
                f"min={s[0]:7.3f} med={s[len(s)//2]:7.3f} "
                f"all={[round(x, 3) for x in samples[v]]}"
            )
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
