"""operators.joins: CDC latest-state, binned range joins, fuzzy joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.operators import joins as J


def test_latest_state_forms_agree(spark):
    import datetime as dt

    rows = [
        (u, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), u * 100 + m, float(m))
        for u in range(5)
        for m in range(20)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, v double")
    a = {tuple(r) for r in J.latest_state_per_key(df, "user_id", ["ts", "event_id"]).collect()}
    b = {
        tuple(r)
        for r in J.latest_state_per_key(
            df, "user_id", ["ts", "event_id"], how="window"
        ).collect()
    }
    assert a == b
    assert len(a) == 5
    # every kept row is that user's max (ts, event_id)
    assert all(r[3] == 19.0 for r in a)


def test_latest_state_tiebreaker(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t, 10, 1.0), (1, t, 11, 2.0)],
        "user_id long, ts timestamp, event_id long, v double",
    )
    out = J.latest_state_per_key(df, "user_id", ["ts", "event_id"]).collect()
    assert len(out) == 1 and out[0].event_id == 11


def test_binned_range_join_matches_nonequi(spark):
    """binned_range_join == plain non-equi join (lo <= p < hi), including
    overlapping intervals (a point matching several) and points outside
    every interval; empty intervals (hi <= lo) match nothing."""
    intervals = spark.createDataFrame(
        [
            (0, 10, 40),    # spans several bins at width 8
            (1, 35, 50),    # overlaps interval 0 on [35, 40)
            (2, 200, 203),  # inside one bin
            (3, 60, 60),    # empty — must contribute nothing
            (4, 70, 65),    # inverted — must contribute nothing
        ],
        "iid int, lo long, hi long",
    )
    points = spark.range(0, 250).select(F.col("id").alias("p"))
    got = {
        (r.iid, r.p)
        for r in J.binned_range_join(intervals, points, bin_size=8).collect()
    }
    want = {
        (r.iid, r.p)
        for r in points.join(
            intervals, (F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi"))
        ).collect()
    }
    assert got == want
    assert all(iid not in (3, 4) for iid, _ in got)


def test_binned_range_join_bin_size_invariance(spark):
    """The result set is independent of bin width (only cost changes)."""
    intervals = spark.createDataFrame(
        [(0, 5, 23), (1, 17, 18)], "iid int, lo long, hi long"
    )
    points = spark.range(0, 30).select(F.col("id").alias("p"))
    results = [
        {
            (r.iid, r.p)
            for r in J.binned_range_join(intervals, points, bin_size=w).collect()
        }
        for w in (1, 4, 64)
    ]
    assert results[0] == results[1] == results[2]


def test_fuzzy_join_ed1_matches_naive_levenshtein(spark):
    """Deletion-neighborhood blocking + verify == naive cross join with
    levenshtein <= 1, across insert/delete/substitute pairs, a shared-
    variant-but-distance-2 pair (ab/ba), and an unrelated key."""
    left = spark.createDataFrame(
        [("kitten",), ("kittn",), ("sitten",), ("ab",), ("zzz",)], "k string"
    )
    right = spark.createDataFrame(
        [("kitten",), ("kitte",), ("mitten",), ("ba",), ("qqq",)], "k string"
    )
    got = {
        (r.left_key, r.right_key, r.dist)
        for r in J.fuzzy_join_ed1(left, right, "k", "k").collect()
    }
    naive = {
        (r["lk"], r["rk"], r["d"])
        for r in left.selectExpr("k AS lk")
        .crossJoin(right.selectExpr("k AS rk"))
        .selectExpr("lk", "rk", "levenshtein(lk, rk) AS d")
        .filter("d <= 1")
        .collect()
    }
    assert got == naive
    assert ("ab", "ba", 2) not in got  # shared variant 'a'/'b' but ed=2
    assert ("kitten", "kitten", 0) in got  # exact matches survive at dist 0


def test_fuzzy_join_ed1_empty_and_single_char(spark):
    """Empty string pairs with every single-char key (one insert) and
    itself; the F.sequence(1,0) count-down guard keeps it from
    exploding into wrong variants."""
    keys = spark.createDataFrame([("",), ("a",), ("b",), ("xy",)], "k string")
    got = {
        (r.left_key, r.right_key)
        for r in J.fuzzy_join_ed1(keys, keys, "k", "k").collect()
    }
    assert ("", "a") in got and ("", "b") in got and ("", "") in got
    assert ("a", "b") in got  # substitution
    assert ("", "xy") not in got  # distance 2


def test_fuzzy_join_ed1_self_join_mode_identical(spark):
    """self_join=True (identity dist-0 + mirrored insertion class) must
    produce exactly the general-mode result on the same key set."""
    keys = spark.createDataFrame(
        [("kitten",), ("kittn",), ("sitten",), ("ab",), ("ba",), ("a",), ("",), ("zzz",)],
        "k string",
    )
    general = {
        (r.left_key, r.right_key, r.dist)
        for r in J.fuzzy_join_ed1(keys, keys, "k", "k").collect()
    }
    fast = {
        (r.left_key, r.right_key, r.dist)
        for r in J.fuzzy_join_ed1(keys, keys, "k", "k", self_join=True).collect()
    }
    assert fast == general


def test_fuzzy_join_ed1_keep_rows_multiplicity(spark):
    """keep_rows=True == naive levenshtein cross-join WITH duplicate
    source rows: a key held by N left rows matching a key held by M
    right rows emits N×M output rows carrying the full payloads
    (round-8 advisory: the distinct-key contract was a silent-row-loss
    footgun for entity-resolution callers)."""
    left = spark.createDataFrame(
        [(1, "kitten"), (2, "kitten"), (3, "ab"), (4, "zzz")],
        "lid long, lname string",
    )
    right = spark.createDataFrame(
        [(10, "kitte"), (11, "kitte"), (12, "kitten"), (13, "ba")],
        "rid long, rname string",
    )
    got = {
        (r.lid, r.rid, r.dist)
        for r in J.fuzzy_join_ed1(
            left, right, "lname", "rname", keep_rows=True
        ).collect()
    }
    naive = {
        (r["lid"], r["rid"], r["d"])
        for r in left.crossJoin(right)
        .selectExpr("lid", "rid", "levenshtein(lname, rname) AS d")
        .filter("d <= 1")
        .collect()
    }
    assert got == naive
    # kitten×2 left rows → each matches kitte×2 and kitten×1 = 6 pairs
    assert sum(1 for (lid, _, _) in got if lid in (1, 2)) == 6
    # payload columns survive
    cols = set(
        J.fuzzy_join_ed1(left, right, "lname", "rname", keep_rows=True).columns
    )
    assert {"lid", "lname", "rid", "rname", "dist"} <= cols
