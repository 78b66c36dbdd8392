"""spark.sql as a first-class query surface: EVERY registry query must
be runnable as a SQL string through Spark — same engine, two
front-ends, one answer (mirrors the reference, which drives its store
exclusively through SQL strings, src/db.py:138-163).

Coverage split:
- Queries whose registry ``fn`` is ``partial(run_sql, text)`` ARE their
  SQL text: 28 run their DuckDB oracle verbatim, 21 run their
  plans.sql_frontend.SPARK_SQL translation. There is no second front-end
  to compare, so only the text's identity is checked here; the oracle
  sweep checks the answer.
- SPARK_PORTABLE: queries with a DataFrame body whose DuckDB oracle text
  is ANSI enough to run in Spark verbatim — the SAME string serves both
  engines.
- plans.sql_frontend.SPARK_SQL: Spark-dialect translation for oracles
  using DuckDB builtins (list lambdas, quantile_cont, ASOF JOIN, ...).
- q89_ivf_approx_topk is the single exclusion: approximate ANN whose
  result is recall-gated, not equality-checked, by design.
"""

from __future__ import annotations

from functools import partial

import pytest

from tests.conftest import long_suite

from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES
from sustainable_building_energy_benchmarking_pipeline_spark.plans.sql_frontend import SPARK_SQL, run_sql
from sustainable_building_energy_benchmarking_pipeline_spark.session import load_tables
from tests.oracle import normalize_result

SF_DIR = "/root/testdata/sf0.001"

# Oracle SQL that runs verbatim in Spark (ANSI-portable subset) for the
# queries that keep a DataFrame body
SPARK_PORTABLE = [
    "q09_weighted_avg", "q10_grouping_sets", "q15_topk_per_group",
    "q16_dedup_first", "q17_rolling_events", "q18_runs",
    "q20_percent_rank", "q21_sessionize", "q47_oscillation_window",
    "q55_latest_state_upsert", "q67_fuzzy_name_match", "q74_ntile_buckets",
    "q82_intersect_except", "q94_grouped_agg_udaf", "q95_value_range_frame",
    "z01_bloom_incremental_dedup", "z04_sharded_bloom_dedup",
]

EXCLUDED = {"q89_ivf_approx_topk"}  # approximate by design; recall-gated


def _runs_text(name: str) -> bool:
    fn = QUERIES[name].fn
    return isinstance(fn, partial) and fn.func is run_sql


def _sql_for(name: str) -> str:
    if name in SPARK_SQL:
        return SPARK_SQL[name]
    assert name in SPARK_PORTABLE, f"{name} has no Spark SQL surface"
    return QUERIES[name].sql


def test_every_query_has_sql_surface():
    missing = [
        n for n in QUERIES
        if n not in EXCLUDED and not _runs_text(n)
        and n not in SPARK_SQL and n not in SPARK_PORTABLE
    ]
    assert not missing, f"queries without a Spark SQL string: {missing}"


def test_text_queries_run_their_one_text():
    """A query without a body runs its SPARK_SQL translation when it has
    one, else its oracle text — the very string object, not a copy."""
    texts = {n: QUERIES[n].fn.args[0] for n in QUERIES if _runs_text(n)}
    assert len(texts) == 49
    for name, text in texts.items():
        assert text is SPARK_SQL.get(name, QUERIES[name].sql), name
        assert name not in SPARK_PORTABLE, name


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    load_tables(spark, SF_DIR)


@pytest.mark.parametrize(
    "name", [n for n in sorted(QUERIES) if n not in EXCLUDED and not _runs_text(n)]
)
@long_suite
def test_sql_frontend_matches_dataframe(spark, name):
    spec = QUERIES[name]
    df_api = spec.fn(spark, SF_DIR)
    sql_api = spark.sql(_sql_for(name))
    a = normalize_result(df_api.columns, [tuple(r) for r in df_api.collect()])
    b = normalize_result(sql_api.columns, [tuple(r) for r in sql_api.collect()])
    assert a == b, f"{name}: SQL front-end diverges from DataFrame plan"


def test_q50_sql_raises_on_deep_chain(spark):
    """The unrolled 6-round propagation must fail LOUDLY (assert_true
    sentinel riding the output expressions — a detached check gets
    optimizer-pruned) when the near-dup graph's diameter exceeds the
    rounds, instead of returning intermediate labels as converged."""
    words = [f"w{j}" for j in range(60)]
    rows = [
        (i, " ".join(words[i * 2 : i * 2 + 10]), "en", "s", 30)
        for i in range(20)  # path graph: doc i ~ doc i+1 only, diameter 19
    ]
    chain = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    prior = spark.table("documents")
    chain.createOrReplaceTempView("documents")
    try:
        with pytest.raises(Exception, match="not converged within 6 rounds"):
            spark.sql(SPARK_SQL["q50_dedup_clusters"]).collect()
    finally:
        prior.createOrReplaceTempView("documents")
