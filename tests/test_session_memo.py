"""The session memo owner (``session.SessionMemo``): app scoping across
a session restart, and the lock discipline under concurrent use."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import threading

from sustainable_building_energy_benchmarking_pipeline_spark.session import SessionMemo

from tests.conftest import TESTDATA_SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_gram_frame_memo_survives_session_restart():
    """exact_substr_cut over the same documents in two sequential
    sessions: the second session must rebuild the memoized gram frame,
    never hand back the stopped session's persisted one
    ("Cannot call methods on a stopped SparkContext"). Runs in a
    subprocess so stopping its session cannot touch the suite's; the
    repo goes on PYTHONPATH because the Python UDF workers need it."""
    script = textwrap.dedent(
        f"""
        from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
            exact_substr_cut,
        )
        from sustainable_building_energy_benchmarking_pipeline_spark.session import (
            get_spark,
            load_table,
        )

        counts = []
        for _ in range(2):
            spark = get_spark(app_name="memo-restart", master="local[2]", shuffle_partitions=2)
            docs = load_table(spark, {TESTDATA_SF!r}, "documents")
            counts.append(exact_substr_cut(docs).count())
            spark.stop()
        assert counts[0] == counts[1], counts
        print("OK", counts)
        """
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "OK" in proc.stdout


def test_memo_bound_holds_under_concurrent_put_get_clear():
    """Eight threads put to and get from one bound-4 namespace while a
    ninth clears it: no exception escapes and the bound always holds.
    A short switch interval makes the threads interleave inside each
    put's evict-then-insert."""
    memo = SessionMemo("test_concurrency", maxsize=4)
    errors: list[Exception] = []
    over_bound: list[int] = []
    stop = threading.Event()

    def worker(tid: int) -> None:
        try:
            for i in range(2000):
                key = (tid, i % 7)
                memo.put(key, i)
                memo.get(key)
                memo.get((tid + 1, i % 5))
                if len(memo) > memo.maxsize:
                    over_bound.append(len(memo))
        except Exception as e:
            errors.append(e)

    def clearer() -> None:
        try:
            while not stop.is_set():
                memo.clear()
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    cl = threading.Thread(target=clearer)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        cl.start()
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        stop.set()
        cl.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads + [cl])
    assert not errors, errors
    assert not over_bound, over_bound
    assert len(memo) <= memo.maxsize
