"""Property-based invariants (hypothesis) for the operators whose
correctness rests on an algorithmic argument rather than a fixture:
union-find closure, the SymSpell edit-distance decomposition, and text
fingerprint normalization. Driver-side properties run hundreds of
examples; the one Spark-backed property keeps max_examples small (a
Spark job per example)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
    _union_find_components,
)

# ---------------------------------------------------------------------------
# union-find == brute-force transitive closure, min-id representative
# ---------------------------------------------------------------------------

pairs_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=60
)


def _brute_components(pairs):
    nodes = {x for p in pairs for x in p}
    comp = {x: {x} for x in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in pairs:
            if comp[a] is not comp[b]:
                comp[a] |= comp[b]
                for x in comp[b]:
                    comp[x] = comp[a]
                changed = True
    return {x: min(comp[x]) for x in nodes}


@given(pairs_strategy)
@settings(max_examples=200, deadline=None)
def test_union_find_matches_transitive_closure(pairs):
    assert _union_find_components(pairs) == _brute_components(pairs)


# ---------------------------------------------------------------------------
# SymSpell decomposition == levenshtein <= 1 (Spark-backed, few examples)
# ---------------------------------------------------------------------------

words = st.lists(
    st.text(alphabet="abc", min_size=0, max_size=4), min_size=1, max_size=8,
    unique=True,
)


@given(left=words, right=words)
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzzy_ed1_equals_naive_levenshtein(spark_session_prop, left, right):
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.joins import (
        fuzzy_join_ed1,
    )

    spark = spark_session_prop
    L = spark.createDataFrame([(w,) for w in left], "k string")
    R = spark.createDataFrame([(w,) for w in right], "k string")
    got = {
        (r.left_key, r.right_key, r.dist)
        for r in fuzzy_join_ed1(L, R, "k", "k").collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a, b, lev(a, b)) for a in left for b in right if lev(a, b) <= 1
    }
    assert got == want


import pytest  # noqa: E402

from tests.conftest import long_suite  # noqa: E402


@pytest.fixture(scope="module")
def spark_session_prop(spark):
    return spark


# ---------------------------------------------------------------------------
# Delta mergeSchema: the pure schema-merge is order/type-lawful
# ---------------------------------------------------------------------------

_types = st.sampled_from(["long", "double", "string", "boolean"])
_names = st.text(alphabet="abcdef", min_size=1, max_size=3)
_schemas = st.dictionaries(_names, _types, min_size=1, max_size=6)


def _to_struct(d):
    from pyspark.sql import types as T

    m = {"long": T.LongType(), "double": T.DoubleType(),
         "string": T.StringType(), "boolean": T.BooleanType()}
    return T.StructType([T.StructField(k, m[v], True) for k, v in d.items()])


@given(table=_schemas, batch=_schemas)
@settings(max_examples=300, deadline=None)
def test_merge_schemas_laws(table, batch):
    """For ANY table/batch schema pair: a common-column type conflict
    raises; otherwise the merged schema is exactly table-order fields
    followed by batch-only fields in batch order, types preserved —
    idempotent (merging the merged schema with the table changes
    nothing) and monotone (never drops a column)."""
    import pytest as _pytest

    from sustainable_building_energy_benchmarking_pipeline_spark.sources.deltalog import (
        _merge_schemas,
    )

    ts, bs = _to_struct(table), _to_struct(batch)
    conflict = any(k in batch and batch[k] != v for k, v in table.items())
    if conflict:
        with _pytest.raises(ValueError, match="cannot change the type"):
            _merge_schemas(bs, ts)
        return
    merged = _merge_schemas(bs, ts)
    names = [f.name for f in merged.fields]
    assert names == list(table) + [k for k in batch if k not in table]
    types = {f.name: f.dataType for f in merged.fields}
    for k in table:
        assert types[k] == _to_struct({k: table[k]}).fields[0].dataType
    for k in batch:
        assert types[k] == _to_struct({k: batch[k]}).fields[0].dataType
    # idempotent: the merged schema re-merged against the same table is itself
    assert _merge_schemas(merged, ts) == merged
    # batch aligned against merged-as-table adds nothing
    assert _merge_schemas(bs, merged) == merged


# --- stratified rank/cumsum vs the window forms (round 6) ---------------
#
# Hypothesis draws the DATA (stratum skew, duplicates in the order key's
# non-tiebreak part, negative values, stratum counts), a per-example
# SparkSession would be absurd — so the strategy draws row lists and one
# shared session executes. Ranks must equal ROW_NUMBER and running sums
# must equal the ROWS UNBOUNDED PRECEDING window bit-for-bit.

_strata = st.sampled_from(["big", "mid", "s1", "s2", None])
_rows_strategy = st.lists(
    st.tuples(
        _strata,
        st.integers(min_value=-50, max_value=50),   # order key (dups ok)
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=0,
    max_size=60,
)


@given(rows=_rows_strategy, n_parts=st.integers(min_value=1, max_value=7))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@long_suite
def test_stratified_rank_and_cumsum_match_windows(spark, rows, n_parts):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sustainable_building_energy_benchmarking_pipeline_spark.operators.windows import (
        stratified_cumsum,
        stratified_rank,
    )

    data = [(s, k, v, i) for i, (s, k, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "stratum STRING, k INT, v INT, id INT"
    ).repartition(3)

    got_rank = {
        r["id"]: r["rk"]
        for r in stratified_rank(
            df, "stratum", ["k", "id"], out_col="rk", num_partitions=n_parts
        ).collect()
    }
    w = Window.partitionBy("stratum").orderBy("k", "id")
    want_rank = {
        r["id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got_rank == want_rank

    got_cs = {
        r["id"]: r["cs"]
        for r in stratified_cumsum(
            df, "stratum", ["k", "id"], "v", out_col="cs", num_partitions=n_parts
        ).collect()
    }
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want_cs = {
        r["id"]: r["cs"]
        for r in df.withColumn("cs", F.sum("v").over(wf)).collect()
    }
    assert got_cs == want_cs


# ---- round-11: substring-dedup family vs a pure-Python reference -----

_tiny_docs = st.lists(
    st.lists(st.sampled_from("abc"), min_size=0, max_size=12).map(
        lambda ws: " ".join(ws)
    ),
    min_size=1,
    max_size=6,
)


def _ref_spans(texts: list[str], k: int) -> set[tuple[int, int, int, int]]:
    """Reference dup_ngram_spans: dict-of-sets inversion + interval
    merge, straight from the definition."""
    words = {i: t.split() for i, t in enumerate(texts) if t.strip()}
    where: dict[tuple, set[int]] = {}
    for d, w in words.items():
        for p in range(len(w) - k + 1):
            where.setdefault(tuple(w[p : p + k]), set()).add(d)
    out = set()
    for d, w in words.items():
        hits = sorted(
            p
            for p in range(len(w) - k + 1)
            if len(where[tuple(w[p : p + k])]) >= 2
        )
        cur = None
        for p in hits:
            s, e = p, p + k - 1
            if cur and s <= cur[1]:
                cur[1] = max(cur[1], e)
            else:
                if cur:
                    out.add((d, cur[0], cur[1], cur[1] - cur[0] + 1))
                cur = [s, e]
        if cur:
            out.add((d, cur[0], cur[1], cur[1] - cur[0] + 1))
    return out


@given(texts=_tiny_docs)
@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dup_ngram_spans_matches_reference(spark_session_prop, texts):
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        dup_ngram_spans,
    )

    spark = spark_session_prop
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dup_ngram_spans(df, k=3).collect()
    }
    assert got == _ref_spans(texts, 3)


@given(texts=_tiny_docs)
@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_substr_cut_matches_reference(spark_session_prop, texts):
    from sustainable_building_energy_benchmarking_pipeline_spark.operators.dedup import (
        exact_substr_cut,
    )

    k = 3
    spark = spark_session_prop
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.n_tokens, r.n_cut, r.clean_text)
        for r in exact_substr_cut(df, k=k).collect()
    }
    # reference: keep-first at gram level, positions covered by a gram
    # whose min-doc is earlier get cut
    words = {i: t.split() for i, t in enumerate(texts) if t.strip()}
    keep: dict[tuple, int] = {}
    docs_of: dict[tuple, set[int]] = {}
    for d in sorted(words):
        w = words[d]
        for p in range(len(w) - k + 1):
            g = tuple(w[p : p + k])
            keep.setdefault(g, d)
            docs_of.setdefault(g, set()).add(d)
    want = set()
    for d, w in words.items():
        cut = set()
        for p in range(len(w) - k + 1):
            g = tuple(w[p : p + k])
            if len(docs_of[g]) >= 2 and keep[g] < d:
                cut.update(range(p, p + k))
        if cut:
            clean = " ".join(w[i] for i in range(len(w)) if i not in cut)
            want.add((d, len(w), len(cut), clean))
    assert got == want


# ---- W.bfill / W.ffill vs pandas groupby().bfill() / .ffill() --------
#
# bfill runs as last(ignorenulls) over the REVERSED order (a growing
# frame), so its null-key and null-run behaviour is exactly where it
# could drift from the look-ahead definition. The shuffle is kept at
# four partitions (AQE coalescing off) so groups land in different
# tasks.


@st.composite
def _fill_rows(draw):
    n = draw(st.integers(min_value=0, max_value=40))
    keys = draw(st.lists(st.sampled_from(["a", "b", "c", None]), min_size=n, max_size=n))
    vals = draw(
        st.lists(
            st.one_of(st.none(), st.none(), st.integers(-100, 100)),
            min_size=n, max_size=n,
        )
    )
    ts = draw(st.permutations(range(n)))
    return list(zip(keys, ts, vals))


@given(rows=_fill_rows(), n_parts=st.integers(min_value=1, max_value=3))
@example(rows=[], n_parts=1)
# leading and trailing NULL runs, an all-NULL group, a single-row
# group, and a NULL group key
@example(
    rows=[("a", 0, None), ("a", 1, None), ("a", 2, 5), ("a", 3, None),
          ("a", 4, 7), ("a", 5, None), ("b", 6, None), ("b", 7, None),
          ("c", 8, 3), (None, 9, None), (None, 10, 4), (None, 11, None)],
    n_parts=2,
)
@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bfill_ffill_match_pandas_groupby(spark_session_prop, rows, n_parts):
    import math

    from sustainable_building_energy_benchmarking_pipeline_spark.operators import windows as W

    spark = spark_session_prop
    df = spark.createDataFrame(rows, "g STRING, t INT, v INT").repartition(n_parts, "t")
    filled = df.select(
        "t",
        W.ffill("v", W.ordered_window("g", "t")).alias("ff"),
        W.bfill("v", "g", "t").alias("bf"),
    )
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = {r.t: (r.ff, r.bf) for r in filled.collect()}
    finally:
        spark.conf.set(key, prior)

    pdf = df.toPandas().sort_values("t")
    groups = pdf.groupby("g", dropna=False)["v"]

    def py(x):
        return None if x is None or math.isnan(x) else int(x)

    want = {
        int(t): (py(f), py(b))
        for t, f, b in zip(pdf["t"], groups.ffill(), groups.bfill())
    }
    assert got == want
