"""Aggregation operators (SURVEY.md §2.4 A1-A13).

All built on native ``groupBy``/``agg`` so Catalyst plans partial (map-side)
aggregation automatically — the shuffle carries pre-combined state, not raw
rows, which is what makes these viable at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def weighted_avg(value: Column, weight: Column) -> Column:
    """A8: Σ(value·weight)/Σ(weight) — area-weighted EUI
    (src/export_json.py:157-158). A single-pass ratio aggregate; both sums
    partial-aggregate map-side."""
    return F.sum(value * weight) / F.sum(weight)


def count_if(cond: Column) -> Column:
    """A3: conditional count (`sum(when(cond,1))` idiom,
    notebooks/benchmarking_medallion.py:223-227)."""
    return F.sum(F.when(cond, 1).otherwise(0))


def share_pct(cond: Column) -> Column:
    """A9: percentage of rows satisfying ``cond``
    (rating-share KPIs, src/export_json.py:159-169)."""
    return count_if(cond) * 100.0 / F.count(F.lit(1))


def multi_dim_summary(
    df: DataFrame,
    dims: Sequence[str],
    measures: Sequence[Column],
    grouping_id_col: str | None = None,
) -> DataFrame:
    """A7: one-pass multi-dimensional summary via GROUPING SETS.

    The reference's ``get_anomaly_summary`` issues four separate SQL
    statements over the same filtered base (src/db.py:171-236: by severity,
    by rule, by zone). Here: single scan, single shuffle —
    ``GROUPING SETS ((severity),(rule_name),(zone_id))``.

    Pass ``grouping_id_col`` to get ``F.grouping_id()`` in the output —
    the RELIABLE grouping-set marker. Value-nullness is not one: a row
    whose dim VALUE is null (a null-severity anomaly) looks identical
    to the aggregated-out columns of the other sets, so a nullness
    classifier silently drops that group from its breakdown (the
    reference SQL's GROUP BY returns the NULL group)."""
    gs = df.groupingSets([[F.col(d)] for d in dims], *[F.col(d) for d in dims])
    if grouping_id_col is None:
        return gs.agg(*measures)
    return gs.agg(F.grouping_id().alias(grouping_id_col), *measures)


