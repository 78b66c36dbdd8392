"""Differential correctness: every registered query vs its DuckDB oracle.

Mirrors the driver's t2 gate at sf0.01 (override with
SPARK_GRAFT_ORACLE_SF_DIR). Any query added to the registry is picked up
automatically.
"""

from __future__ import annotations

import pytest

from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES
from tests.oracle import compare_spark_duckdb


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, oracle_sf_dir, name):
    spec = QUERIES[name]
    df = spec.fn(spark, oracle_sf_dir)
    assert df.columns, f"{name}: no columns"
    if spec.sql is None:
        assert df.count() >= 0  # rows-only check, mirrors the driver
        return
    problems = compare_spark_duckdb(df, spec.sql, oracle_sf_dir)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    import importlib.util, pathlib

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", pathlib.Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(mod.oracle_sql()) <= set(mod.queries())


def test_sql_query_raises_on_missing_table(spark, sf_dir, tmp_path):
    """A text query reads only ``sf_dir``: a table missing there raises
    and names the table, even when an earlier call bound its view."""
    fn = QUERIES["q01_pricing_summary"].fn
    fn(spark, sf_dir).collect()
    with pytest.raises(Exception, match="lineitem"):
        fn(spark, str(tmp_path)).collect()


def test_sql_query_frame_stays_bound_to_its_dir(spark, sf_dir, tmp_path):
    """A frame built for one ``sf_dir`` keeps returning that dir's rows
    after the same query is built for another (its views rebound)."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        "l_returnflag = 'R'"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    fn = QUERIES["q01_pricing_summary"].fn
    first = fn(spark, sf_dir)
    want = sorted(map(tuple, first.collect()))
    other = sorted(map(tuple, fn(spark, str(tmp_path)).collect()))
    assert other and other != want
    assert sorted(map(tuple, first.collect())) == want
