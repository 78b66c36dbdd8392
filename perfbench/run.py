"""Benchmark runner.

    python3 perfbench/run.py --workload paper_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one client, closed loop, in a
``local[nproc]`` session with ``nproc`` shuffle partitions. Steps:

1. the workload's ``prepare`` (not timed);
2. set-up, repeated ``SETUP_REPS`` times, each a fresh SparkSession in the
   same JVM, an engine warm-up and the workload's input preparation;
   ``setup_s`` is the median (the first repetition also starts the JVM);
3. the workload's ``warmup_units``, checked but not timed, then units of
   work until ``--seconds`` have passed and at least the workload's
   ``min_units`` have run, but no more than its ``max_units`` (the
   pipeline and the registry time one unit whatever ``--seconds`` is).
   While fewer than ``min_units`` of the units were quiet (below), units
   go on for up to ``2 * --seconds``;
4. output: a line with the run's stamp, the workload's named metrics
   (``pipeline_s``; ``alerts_p50_ms`` .. ``summary_p90_ms``;
   ``registry_total_s``; ``failed_frac``) and its ratios to BASELINE.md,
   then, last, ``{"correct", "attempted", "failed", "metrics"}`` with the
   ``end_to_end`` metrics of BENCHMARK.json (``--trace 0``) or its
   ``per_layer`` metrics (``--trace 1``).

End-to-end metrics: ``setup_s``; ``work_s``, the median wall time of one
unit of work (a pipeline run, four ``/alerts`` requests and two
``/alerts/summary`` requests, or a pass over the registry slice), output
checks excluded; ``peak_rss_mb``, this Python process's ``ru_maxrss``
plus the JVM's ``VmHWM``.

``work_s`` is the median over the run's quiet units, or over its
``min_units`` least stolen units where fewer were quiet. A unit is quiet
when the hypervisor took under ``QUIET_STEAL`` of the machine's CPU time
while it ran (the ``steal`` column of ``/proc/stat``). On a shared host,
steal comes in spells of seconds to minutes, and a spell slows the
alerts requests, each a chain of short Spark jobs, by up to half. Steal
is time the host gave to other machines, not time the program spent.

With ``--trace 1`` the run has one timed unit more than the workload's
minimum; odd timed units run traced and even ones untraced. The per-layer
figures are medians over the traced units of each span's per-unit total
(so ``api.alerts`` covers a unit's four ``/alerts`` requests), and
``tracing_overhead_pct`` compares the traced units with the untraced
ones (for the pipeline and the registry, whose one untraced unit is the
session's first, it reads low). Spans and stamps are written to
``.perfbench_out/`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "sustainable_building_energy_benchmarking_pipeline_spark"
SETUP_REPS = 3
MAX_MEASURE_S = 110.0
QUIET_STEAL = 0.05
# confs that differ on every launch, or carry this run's working paths
VOLATILE_CONF = (
    "spark.app.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.driver.host", "spark.driver.port", "spark.executor.id",
    "spark.local.dir", "spark.sql.warehouse.dir", "spark.driver.extraJavaOptions",
    "spark.app.initial.jar.urls", "spark.app.initial.file.urls",
    "spark.submit.pyFiles", "spark.repl.local.jars", "spark.files", "spark.jars",
)


def prepare_env(work: Path) -> None:
    """Keep the run's files under ``work`` and make the package importable
    by the engine's Python UDF workers, which see PYTHONPATH, not this
    process's sys.path. Call before the first SparkSession."""
    for d in (work / "tmp", work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["TZ"] = "UTC"
    time.tzset()


def session_conf(work: Path) -> dict[str, str]:
    return {
        "spark.driver.memory": "1g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }


def start_spark(work: Path, cpus: int):
    from sustainable_building_energy_benchmarking_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=session_conf(work),
    )


def warm_engine(spark) -> None:
    """One job through a shuffle aggregate, so the first timed call does
    not pay the session's first job and code generation. Python workers
    start in the workload: in the alerts set-up's requests, and inside
    the first pipeline run or registry pass."""
    spark.range(4_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Python driver ``ru_maxrss`` plus the JVM's ``VmHWM``, in MiB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stamp(spark, cpus: int) -> dict:
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    conf = {
        k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
        if k not in VOLATILE_CONF
    }
    return {
        "cpus": cpus,
        "host_cpus": os.cpu_count(),
        "git_sha": sha,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "conf": conf,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spec: list[dict], traced: list[dict], counts: dict, overhead: float) -> dict:
    """Per-layer values: ``<span>.<counter>`` is the median over traced
    units of the per-unit sum of that span's counter."""
    out = {}
    for m in spec:
        name = m["name"]
        if name in counts:
            value = counts[name]
        elif name == "tracing_overhead_pct":
            value = overhead
        else:
            span, counter = name.rsplit(".", 1)
            value = median([u.get(span, {}).get(counter, 0.0) for u in traced])
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def per_unit_sums(records: list[dict]) -> dict:
    from perfbench.spans import COUNTERS

    sums: dict[str, dict[str, float]] = {}
    for r in records:
        acc = sums.setdefault(r["name"], dict.fromkeys(COUNTERS, 0.0))
        for c in COUNTERS:
            acc[c] += r[c]
    return sums


def main(argv: list[str] | None = None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    sys.path[0] = str(ROOT)
    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    prepare_env(work)

    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Call

    wl = WORKLOADS[args.workload](args.seed, str(work), str(ROOT))
    spark = None
    try:
        getattr(wl, "prepare", lambda: None)()
        setup = getattr(wl, "setup", lambda spark, rep: None)
        setups = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = start_spark(work, cpus)
            warm_engine(spark)
            setup(spark, rep)
            setups.append(time.perf_counter() - t)

        noop = Tracer(None)
        tracer = Tracer(spark) if args.trace else noop

        def run_unit(i: int, tr) -> list[Call]:
            t = time.perf_counter()
            try:
                return wl.unit(spark, tr, i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                return [Call("unit", time.perf_counter() - t, False, "raised")]

        # units the engine needs to reach its steady state: output-checked
        # and counted as attempted, but left out of every timing
        warm = [run_unit(i, noop) for i in range(getattr(wl, "warmup_units", 0))]
        units: list[list[Call]] = []
        traced_units: list[dict] = []
        traced_work, plain_work = [], []
        spans_out = []
        t0 = time.perf_counter()
        i = 0
        # traced runs add one unit, so at least one untraced unit is timed
        # beside each traced one
        min_units = wl.min_units + args.trace
        max_units = getattr(wl, "max_units", math.inf) + args.trace
        steal: list[float] = []

        def more() -> bool:
            elapsed = time.perf_counter() - t0
            if i >= max_units or elapsed >= MAX_MEASURE_S:
                return False
            if i < min_units or elapsed < args.seconds:
                return True
            # too few quiet units: go on, for up to twice the run
            return sum(x < QUIET_STEAL for x in steal) < min_units and elapsed < 2 * args.seconds

        while more():
            traced = bool(args.trace) and i % 2 == 1
            tr = tracer if traced else noop
            before = cpu_jiffies()
            calls = run_unit(len(warm) + i, tr)
            steal.append(steal_share(before, cpu_jiffies()))
            units.append(calls)
            if traced:
                records = tracer.take()
                spans_out.append({"unit": i, "spans": records})
                traced_units.append(per_unit_sums(records))
                traced_work.append(sum(c.seconds for c in calls))
            else:
                plain_work.append(sum(c.seconds for c in calls))
            i += 1

        calls = [c for u in warm + units for c in u]
        unit_work = [sum(c.seconds for c in u) for u in units]
        n_quiet = sum(x < QUIET_STEAL for x in steal)
        least_stolen = [w for _, w in sorted(zip(steal, unit_work))]
        attempted = len(calls)
        failed = sum(not c.ok for c in calls)
        named = {
            **wl.named_metrics(units),
            "setup_s": (median(setups), "s"),
            "failed_frac": (failed / max(attempted, 1), "1"),
            "peak_rss_mb": (peak_rss_mb(spark), "MB"),
        }
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "stamp": stamp(spark, cpus),
            "setup_runs_s": setups,
            "unit_work_s": unit_work,
            "unit_steal_share": steal,
            "quiet_units": n_quiet,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "baseline": getattr(wl, "baseline", lambda named: {})(named),
            "failures": [f"{c.name}: {c.detail}" for c in calls if not c.ok][:10],
        }
        e2e = {
            "setup_s": named["setup_s"][0],
            "work_s": median(least_stolen[:max(n_quiet, wl.min_units)]),
            "peak_rss_mb": named["peak_rss_mb"][0],
        }
        if args.trace:
            overhead = (
                100.0 * (median(traced_work) / median(plain_work) - 1.0)
                if traced_work and plain_work else 0.0
            )
            counts = getattr(wl, "layer_counts", dict)()
            metrics = layer_metrics(spec["per_layer"], traced_units, counts, overhead)
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        (out_dir / name).write_text(
            json.dumps({**info, "metrics": metrics, "traced_units": spans_out}, indent=1)
        )
        print(json.dumps(info))
        print(json.dumps({
            "correct": failed == 0 and attempted > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
