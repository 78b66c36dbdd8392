"""One representation per registry query: a query is its one SQL text
or a DataFrame body, never both.

- Queries whose registry ``fn`` is ``partial(run_sql, text)`` ARE their
  SQL text: 28 run their DuckDB oracle verbatim, 21 run their
  plans.sql_frontend.SPARK_SQL translation. Only the text's identity is
  checked here; the oracle sweep checks the answer.
- SPARK_PORTABLE: queries with a DataFrame body whose DuckDB oracle text
  is ANSI enough to run in Spark verbatim. The long suite runs that
  reference string in Spark and compares it with the body.
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


def _runs_text(name: str) -> bool:
    fn = QUERIES[name].fn
    return isinstance(fn, partial) and fn.func is run_sql


def test_every_spark_sql_text_is_run_by_its_query():
    """Each SPARK_SQL text is the very string its registry entry runs:
    a translation beside a DataFrame body is a second representation."""
    twins = sorted(
        n for n, text in SPARK_SQL.items()
        if not (_runs_text(n) and QUERIES[n].fn.args[0] is text)
    )
    assert not twins, f"SPARK_SQL texts their query does not run: {twins}"


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


@pytest.mark.parametrize("name", SPARK_PORTABLE)
@long_suite
def test_sql_frontend_matches_dataframe(spark, name):
    spec = QUERIES[name]
    df_api = spec.fn(spark, SF_DIR)
    sql_api = spark.sql(spec.sql)
    a = normalize_result(df_api.columns, [tuple(r) for r in df_api.collect()])
    b = normalize_result(sql_api.columns, [tuple(r) for r in sql_api.collect()])
    assert a == b, f"{name}: SQL front-end diverges from DataFrame plan"

