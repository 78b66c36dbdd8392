"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Per BASELINE.md, session startup is excluded (measure steady-state query
time): the session is built and tables warmed before timing starts, and
each query is timed over its full action (plan + execute + collect-to-count).
"""

from __future__ import annotations

import json
import os
import time

from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES
from sustainable_building_energy_benchmarking_pipeline_spark.session import (
    SessionMemo,
    clear_query_cache,
    get_spark,
    load_tables,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="sbeb-bench")

    warm(spark, sf_dir)

    # per-query MIN over a cold pass + a budgeted re-pass (steady-state
    # policy: the per-query minimum is the legitimate steady-state
    # estimator on a shared box — single-shot numbers vary ±50% with
    # unrelated load). The old all-or-nothing second pass ("skip if
    # pass 1 > 120 s") turned into a cliff as the registry grew: the
    # COLD pass crept past the cap (z10/z11 alone cost ~14 s of one-off
    # codegen/Arrow warmup), so the whole bench silently degraded to
    # single-shot cold numbers (+20% total, observed). The re-pass now
    # always runs, SLOWEST FIRST — the queries whose cold numbers are
    # most inflated are exactly the ones re-measured — and stops when
    # the wall budget is spent, so worst-case bench wall time stays
    # bounded at ~warmup + BENCH_WALL_BUDGET.
    BENCH_WALL_BUDGET = 240.0
    timings: dict[str, float] = {}
    runs: dict[str, int] = {}

    # The session memos (session.SessionMemo) are session state: z17
    # legitimately reuses the labels q50 computed, z19 reuses the gram
    # frame z18 built — that IS the session cost a user pays, so
    # cross-query hits are measured as hits. But a query's OWN re-passes
    # must not degenerate into measuring its own memo (min-of-N would
    # then report q50 without any LSH work, or z18 without any
    # tokenize): pin each query's memo state to what its FIRST pass saw
    # — entries the query itself added are dropped (and released)
    # before every re-pass, entries that predate it stay. Cold stays
    # cold, warm stays warm, min-of-N stays a noise estimator.
    snaps: dict[str, dict] = {}

    def run_one(name: str) -> float:
        SessionMemo.restore(snaps.setdefault(name, SessionMemo.snapshot()))
        t0 = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        n = df.count()
        elapsed = round(time.perf_counter() - t0, 4)
        assert n >= 0
        runs[name] = runs.get(name, 0) + 1
        timings[name] = min(timings.get(name, float("inf")), elapsed)
        # queries that persist an intermediate (z01/z04, q67's key
        # frames, …) build a fresh lineage per pass — release the
        # registered handles so later queries aren't measured under
        # their memory pressure. Targeted release (round-12), NOT
        # spark.catalog.clearCache(): the blanket clear also dropped
        # the session memos' storage blocks, silently nullifying every
        # cross-query reuse the memos exist to provide.
        clear_query_cache(spark)
        return elapsed

    spent = 0.0
    for name in sorted(QUERIES):
        spent += run_one(name)
    # FIRST re-pass cheapest-first: under host contention the cold sweep
    # alone can eat half the budget, and a slowest-first re-pass then
    # never reaches the cheap tail — whose COLD numbers are the most
    # inflated relative to steady state (observed 6-8× under load) while
    # re-measuring them costs seconds total. Cheapest-first guarantees
    # full second-measurement coverage almost for free; the sweeps after
    # it go slowest-first to sharpen where the absolute seconds are.
    # The ≥1 s tail is re-measured UNCONDITIONALLY (round-9 directive:
    # min-of-N with N≥2 for every heavy query, so round-over-round
    # comparisons never rest on one contended sample) — it is ~10
    # queries, so the over-budget worst case costs seconds, not minutes.
    for name in sorted(timings, key=timings.get):
        if spent >= BENCH_WALL_BUDGET and timings[name] < 1.0:
            continue
        spent += run_one(name)
    # round-10 directive: min-of-N with N≥3 for the >1 s tail — a
    # two-sample minimum still rests on ONE quiet sample when the other
    # pass was contended; the third run costs ~a dozen seconds over
    # budget at worst and makes the committed artifact defensible alone.
    for name in sorted(timings, key=timings.get, reverse=True):
        if timings[name] < 1.0:
            break  # sorted descending: everything after is cheaper
        while runs[name] < 3:
            spent += run_one(name)
    # repeated sweeps until the budget is spent or a full sweep finds no
    # better minimum — the per-query min is monotone, so extra sweeps
    # only sharpen the steady-state estimate
    while spent < BENCH_WALL_BUDGET:
        improved = False
        for name in sorted(timings, key=timings.get, reverse=True):
            if spent >= BENCH_WALL_BUDGET:
                break
            before = timings[name]
            spent += run_one(name)
            improved = improved or timings[name] < before
        if not improved:
            break

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # host-contention index (round-10 directive): median ratio of five
    # FIXED trivial queries vs their committed quiet-host minima (the
    # BENCH_FULL refresh at 47.5 s total). These queries haven't changed
    # in rounds and are too small to regress from real code drift, so
    # the ratio isolates the HOST: ~1.0 quiet, ~1.35 on the known
    # contended driver swing. Consumers of the total normalize with it —
    # or at least read the margin story with this number alongside.
    # Only meaningful at sf0.1 (the reference values' scale).
    HCI_REFS = {
        "q01_pricing_summary": 0.3083,
        "q07_case_bands": 0.1674,
        "q13_semi_join": 0.2898,
        "q17_rolling_events": 0.116,
        "q23_hourly_profile": 0.2211,
    }
    ratios = sorted(
        timings[n] / ref for n, ref in HCI_REFS.items() if n in timings
    )
    hci = (
        round(ratios[len(ratios) // 2], 3)
        if ratios and sf_val == 0.1
        else None
    )
    # committed per-query artifact: the driver's tail capture truncates
    # the full stdout line to ~58 queries, losing q01-q43 from
    # round-over-round comparison — write the complete map to a file the
    # next round's verdict can diff (round-5 directive #8). Round number
    # comes from $SPARK_GRAFT_ROUND when the driver sets it; "cur"
    # otherwise (still diffable, just unnumbered).
    rnd = os.environ.get("SPARK_GRAFT_ROUND", "cur")
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_FULL_r{rnd}.json"
    )
    if sf_val != 0.1:
        # the committed artifact is the sf0.1 round-over-round
        # comparator — a probe at another SF must not clobber it
        full_path = None
    try:
        if full_path is None:
            raise OSError("non-sf0.1 run: artifact not written")
        with open(full_path, "w") as f:
            json.dump(
                {
                    "metric": "total_query_wall_seconds",
                    "value": total,
                    "unit": "sec",
                    # "queries" holds the per-query MIN across passes;
                    # "runs" the pass count behind each minimum — both
                    # needed to judge a regression (a 1-run number on a
                    # contended host is not evidence)
                    "queries": timings,
                    "runs": runs,
                    "sf": sf_val,
                    "host_contention_index": hci,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
    except OSError:
        pass  # read-only checkout: stdout lines below still carry the data
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "host_contention_index": hci,
            }
        )
    )
    # truncation-proof headline: the full line above is ~5 KB (one entry per
    # query) and the driver's tail capture has clipped its head before
    # (BENCH_r03 lost the total). Emit a short (<300 B) summary LAST so a
    # parseable headline always survives tail truncation.
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf_val,
                "host_contention_index": hci,
            }
        )
    )
    spark.stop()


def warm(spark, sf_dir: str) -> None:
    """Warm the session outside any timed region (BASELINE.md: measure
    steady-state query time, not session startup): the JVM, every
    table's file listing and loaded plan, the Python UDF worker pool,
    and codegen/JIT for the hot operator families."""
    # the first parquet touch pays InMemoryFileIndex listing, not scan
    spark.range(1).count()
    for df in load_tables(spark, sf_dir).values():
        df.limit(1).count()

    # spin up the Python UDF worker pool (per-core daemons fork lazily;
    # the first Pandas-UDF query would otherwise pay the whole fleet)
    def _identity(it):
        yield from it

    spark.range(256).repartition(32).mapInPandas(_identity, "id long").count()

    # JIT/codegen warmup (still outside the timed region, per BASELINE.md's
    # steady-state policy): the first execution of each physical-operator
    # class pays Janino compilation + C2 JIT — measured 2-4× the steady
    # cost on the heavier pipelines. Exercise each hot operator family once
    # on synthetic rows so the timed queries measure execution, not
    # first-touch compilation of shuffle/hash-agg/sort/window/broadcast/
    # Arrow-serde infrastructure.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    base = spark.range(100_000).select(
        _F.col("id"),
        (_F.col("id") % 97).alias("k"),
        _F.rand(7).alias("x"),
        _F.concat(_F.lit("s"), (_F.col("id") % 1000).cast("string")).alias("s"),
    )
    small = spark.range(97).select(_F.col("id").alias("k"), _F.lit("d").alias("d"))
    (
        base.join(_F.broadcast(small), "k")
        .groupBy("k")
        .agg(_F.sum("x").alias("sx"), _F.count(_F.lit(1)).alias("n"))
        .orderBy(_F.desc("sx"))
        .limit(5)
        .count()
    )
    base.join(base.select("id", _F.col("x").alias("y")), "id").groupBy("k").count().count()
    (
        base.select(
            "id", "k",
            _F.avg("x").over(_W.partitionBy("k").orderBy("id").rowsBetween(-2, 0)).alias("m"),
            _F.lag("x", 1).over(_W.partitionBy("k").orderBy("id")).alias("l"),
        ).where(_F.col("m") > 0).count()
    )
    (
        base.select("k", _F.explode(_F.split(_F.repeat(_F.col("s"), 3), "s")).alias("t"))
        .groupBy("k", "t").count().count()
    )
    base.select(_F.collect_list("x").over(_W.partitionBy("k").orderBy("id")).alias("a")).where(
        _F.size("a") > 1e9
    ).count()


if __name__ == "__main__":
    main()
