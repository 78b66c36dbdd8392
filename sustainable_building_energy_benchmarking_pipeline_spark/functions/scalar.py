"""Scalar column expressions (SURVEY.md §2.2 P6-P17, §2.8 F1-F22).

Everything here is a pure ``pyspark.sql.functions`` composition — no Python
UDFs — so every expression stays inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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


