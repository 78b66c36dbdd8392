"""Building-energy benchmarking medallion pipeline (SURVEY §1, §2.4 A2-A4;
reference ``notebooks/benchmarking_medallion.py`` — the reference's own
statement of the Spark-native design — and ``benchmarking/model.py``).

Bronze→Silver→Gold as pure DataFrame→DataFrame functions; storage is the
caller's choice. The ``medallion`` CLI commits each layer as a Delta table
with ``sources.deltalog.write_delta`` by default (``--format parquet``
writes plain parquet through ``sources.io.write_table``) — the
transformations are storage-agnostic.

Scale: silver is a narrow projection+filter (no shuffle); every gold table
is a single partial-aggregated groupBy on a low-cardinality key. The whole
pipeline is one scan of bronze when the silver result is cached.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RECOMMENDATIONS = [
    "Consider LED lighting upgrades",
    "Review HVAC system efficiency",
    "Implement building automation system",
]  # benchmarking/model.py:66-71


def to_silver(df_bronze: DataFrame, current_year: int | None = None) -> DataFrame:
    """Bronze→Silver (notebooks/benchmarking_medallion.py:125-168): dedup,
    validity filters, null defaults, derived metrics, 4-way rating."""
    year = current_year or _dt.datetime.now().year
    return (
        df_bronze.dropDuplicates(["building_id"])
        .filter(F.col("area") > 0)
        .filter(F.col("energy_consumption") >= 0)
        .filter(F.col("year_built").between(1800, year))
        .fillna({"occupancy": 0, "has_hvac": False, "has_solar": False})
        .withColumn("eui", F.round(F.col("energy_consumption") / F.col("area"), 2))
        .withColumn(
            "energy_per_occupant",
            F.when(
                F.col("occupancy") > 0,
                F.round(F.col("energy_consumption") / F.col("occupancy"), 2),
            ),
        )
        .withColumn("building_age", F.lit(year) - F.col("year_built"))
        .withColumn(
            "performance_category",
            F.when(F.col("eui") < 100, "Excellent")
            .when(F.col("eui") < 150, "Good")
            .when(F.col("eui") < 200, "Average")
            .otherwise("Poor"),
        )
    )


def gold_portfolio_by_type(silver: DataFrame) -> DataFrame:
    """Gold table 1 (notebooks/benchmarking_medallion.py:211-227)."""
    return (
        silver.groupBy("building_type")
        .agg(
            F.count("*").alias("building_count"),
            F.round(F.sum("area"), 2).alias("total_area_sqm"),
            F.round(F.sum("energy_consumption"), 2).alias("total_energy_kwh"),
            F.round(F.avg("eui"), 2).alias("avg_eui"),
            F.round(F.min("eui"), 2).alias("min_eui"),
            F.round(F.max("eui"), 2).alias("max_eui"),
            F.round(F.stddev("eui"), 2).alias("stddev_eui"),
            F.round(F.avg("building_age"), 1).alias("avg_building_age"),
            F.sum(F.when(F.col("has_hvac"), 1).otherwise(0)).alias("hvac_count"),
            F.sum(F.when(F.col("has_solar"), 1).otherwise(0)).alias("solar_count"),
        )
        .withColumn(
            "hvac_percentage",
            F.round(F.col("hvac_count") / F.col("building_count") * 100, 1),
        )
        .withColumn(
            "solar_percentage",
            F.round(F.col("solar_count") / F.col("building_count") * 100, 1),
        )
        .orderBy("building_type")
    )


def gold_performance_distribution(silver: DataFrame) -> DataFrame:
    """Gold table 2 with the custom category sort (W10,
    notebooks/benchmarking_medallion.py:231-244)."""
    return (
        silver.groupBy("performance_category")
        .agg(F.count("*").alias("count"), F.round(F.avg("eui"), 2).alias("avg_eui"))
        .orderBy(
            F.when(F.col("performance_category") == "Excellent", 1)
            .when(F.col("performance_category") == "Good", 2)
            .when(F.col("performance_category") == "Average", 3)
            .otherwise(4)
        )
    )


def gold_top_efficient(silver: DataFrame, n: int = 10) -> DataFrame:
    """Gold table 3: top-N lowest EUI (O3 — TakeOrderedAndProject;
    notebooks/benchmarking_medallion.py:248-253). building_id tiebreak
    keeps the result deterministic."""
    return (
        silver.select("building_id", "building_type", "eui", "energy_consumption", "area")
        .orderBy("eui", "building_id")
        .limit(n)
    )


def portfolio_totals(silver: DataFrame) -> dict[str, Any]:
    """Grand-total aggregate (A4, notebooks/benchmarking_medallion.py:256-261)."""
    row = silver.agg(
        F.count("*").alias("total_buildings"),
        F.round(F.sum("energy_consumption"), 2).alias("total_energy_kwh"),
        F.round(F.sum("area"), 2).alias("total_area_sqm"),
        F.round(F.avg("eui"), 2).alias("portfolio_avg_eui"),
    ).collect()[0]
    return row.asDict()


def run_medallion(df_raw: DataFrame, current_year: int | None = None) -> dict[str, DataFrame]:
    """Full Silver+Gold plan set over a raw buildings DataFrame."""
    silver = to_silver(df_raw, current_year=current_year)
    return {
        "silver": silver,
        "portfolio_by_type": gold_portfolio_by_type(silver),
        "performance_distribution": gold_performance_distribution(silver),
        "top_efficient": gold_top_efficient(silver),
    }


# ---------------------------------------------------------------------------
# Scalar scoring service (E4: POST /benchmark — benchmarking/model.py:15-80)
# ---------------------------------------------------------------------------

def benchmark_building(building_data: dict[str, Any]) -> dict[str, Any]:
    """Score one building (the reference's demo 3-way thresholds:
    Good <100, Poor >200, else Average; zero-area guard → eui 0)."""
    area = building_data.get("area", 1)
    energy = building_data.get("energy_consumption", 0)
    eui = energy / area if area and area > 0 else 0
    rating = "Average"
    if eui < 100:
        rating = "Good"
    elif eui > 200:
        rating = "Poor"
    return {
        "building_id": building_data.get("building_id"),
        "eui": round(eui, 2),
        "performance_rating": rating,
        "recommendations": list(RECOMMENDATIONS),
    }


def benchmark_buildings_df(df: DataFrame) -> DataFrame:
    """Batch form of the scoring endpoint: the same logic as column
    expressions (M2 — 'batch scoring = df.withColumn pipeline')."""
    eui = F.when(F.col("area") > 0, F.col("energy_consumption") / F.col("area")).otherwise(
        F.lit(0.0)
    )
    return df.select(
        "building_id",
        F.round(eui, 2).alias("eui"),
        F.when(eui < 100, "Good").when(eui > 200, "Poor").otherwise("Average").alias(
            "performance_rating"
        ),
        F.array(*[F.lit(r) for r in RECOMMENDATIONS]).alias("recommendations"),
    )
