"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The span-arithmetic tests are pure Python; the registry test starts a
``local[nproc]`` SparkSession the way the benchmark does.
"""

from __future__ import annotations

import os
import random
import shutil

import pytest

from perfbench.run import ROOT, prepare_env, start_spark, stop_spark
from perfbench.spans import Span, Tracer, rollup, union_length
from perfbench.workloads import RegistrySweep


def test_union_length_counts_overlaps_once():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0
    # clipping to the parent span
    assert union_length([(-5, 1), (9, 20)], lo=0, hi=10) == 2.0


def _brute_union(intervals, lo, hi, step=0.01):
    n = int(round((hi - lo) / step))
    covered = 0
    for k in range(n):
        x = lo + (k + 0.5) * step
        covered += any(s <= x < e for s, e in intervals)
    return covered * step


def test_rollup_self_and_driver_time_on_random_trees():
    rng = random.Random(7)
    for _ in range(200):
        root = Span("root", 1, None, 0.0, 10.0)
        spans = [root]
        for sid in range(2, 2 + rng.randint(0, 4)):
            s = rng.uniform(0, 9)
            # children may overlap each other, as spans from threads do
            spans.append(Span(f"c{sid}", sid, 1, s, s + rng.uniform(0.1, 10 - s)))
        for s in spans:
            for _ in range(rng.randint(0, 3)):
                a = rng.uniform(s.start - 1, s.end)
                s.jobs.append((a, a + rng.uniform(0.05, 3)))
        recs = {r["span_id"]: r for r in rollup(spans)}
        r = recs[1]
        kids = [(c.start, c.end) for c in spans[1:]]
        assert r["self_s"] == pytest.approx(10.0 - _brute_union(kids, 0, 10), abs=0.02)
        jobs = [j for s in spans for j in s.jobs]
        assert r["driver_s"] == pytest.approx(10.0 - _brute_union(jobs, 0, 10), abs=0.02)
        for rec in recs.values():
            assert 0.0 <= rec["driver_s"] <= rec["wall_s"] + 1e-12
            assert 0.0 <= rec["self_s"] <= rec["wall_s"] + 1e-12
        assert r["jobs"] == len(jobs)


def test_disabled_tracer_records_nothing():
    tr = Tracer(None)
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert tr.take() == []


@pytest.fixture(scope="module")
def spark():
    work = ROOT / ".perfbench_work" / f"test-{os.getpid()}"
    prepare_env(work)
    session = start_spark(work, len(os.sched_getaffinity(0)))
    yield session
    stop_spark(session)
    shutil.rmtree(work, ignore_errors=True)


def test_consecutive_registry_passes_launch_the_same_jobs(spark):
    """Clearing the memos through their public functions makes every pass
    do the same work, memo pairs included (z17 reuses q50's clusters, z19
    reuses z18's gram frame)."""
    wl = RegistrySweep(0, "", str(ROOT))
    wl.setup(spark, 0)
    tracer = Tracer(spark)
    passes = []
    for _ in range(2):
        wl.clear_memos(spark)
        jobs = {}
        for name in wl.queries:
            wl.run_query(spark, tracer, name)
            records = tracer.take()
            for rec in records:
                assert 0.0 <= rec["driver_s"] <= rec["wall_s"]
            jobs[name] = sum(rec["jobs"] for rec in records)
        passes.append(jobs)
    assert all(n > 0 for n in passes[0].values()), passes
    assert passes[0] == passes[1]
