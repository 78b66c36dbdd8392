"""Scalar column expressions (SURVEY.md §2.2 P6-P17, §2.8 F1-F22).

Everything here is a pure ``pyspark.sql.functions`` composition — no Python
UDFs — so every expression stays inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def clip(col: Column, lo: float | None = None, hi: float | None = None) -> Column:
    """P15: clamp to [lo, hi] (pandas ``.clip``, src/generate_hvac_data.py:215-218).

    NULL passes through (pandas .clip preserves NaN): greatest/least
    SKIP nulls, so the bare chain would fabricate the bound itself from
    a missing reading — a null sensor value must stay null, not become
    0.0 (or worse, the cap)."""
    c = col
    if lo is not None:
        c = F.greatest(c, F.lit(float(lo)))
    if hi is not None:
        c = F.least(c, F.lit(float(hi)))
    return F.when(col.isNull(), col).otherwise(c)


def coalesce_aliases(
    df: DataFrame, aliases: Sequence[str], default: object = None
) -> Column:
    """P16: column-alias coalescing — first *present* column among
    ``aliases`` (checked against ``df.columns``), null-coalesced with
    ``default``. Reproduces the JSON exporter's tolerant ``get_col``
    (src/export_json.py:91-121) as a resolution-time helper.
    """
    present = [F.col(a) for a in aliases if a in df.columns]
    args = present + ([F.lit(default)] if default is not None else [])
    if not args:
        return F.lit(default)
    return F.coalesce(*args) if len(args) > 1 else args[0]


def split_trim(col: Column, sep: str = ",") -> Column:
    """F12: CSV-in-cell → trimmed string array (src/export_json.py:135-136)."""
    return F.transform(F.split(col, sep), lambda x: F.trim(x))


def weekday(ts: Column) -> Column:
    """F2: Monday=0 day-of-week, matching pandas ``dt.dayofweek``
    (src/generate_hvac_data.py:49; SURVEY flags Spark's dayofweek
    Sunday=1 offset trap — use this instead)."""
    return F.weekday(ts)
