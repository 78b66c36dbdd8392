"""Reader/writer layer (SURVEY §2.1).

Every source/sink the reference uses, Spark-first: explicit schemas
(never inference on the hot path), format dispatch, the reference's
alias-coalescing behavior as a reusable helper, and the JDBC scan and
sink of its PostgreSQL layer.

| Here | SURVEY | Reference behavior |
|---|---|---|
| read_table / write_table    | S1,S2,S7-S9,S11 | csv/parquet/json scans+sinks |
| coalesce_aliases            | P16 | first present non-null of aliased columns w/ default (src/export_json.py:91-121) |
| read_jdbc / write_jdbc      | S4,S12 | parameterized SELECT scan; 1000-row batched append (src/db.py:65-110,166) |
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# format-dispatched read/write (S1, S2, S7-S9, S11)
# ---------------------------------------------------------------------------

def read_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    fmt: str | None = None,
    **options: str,
) -> DataFrame:
    """Explicit-schema scan. Format inferred from extension when omitted.
    Pass a schema (or accept parquet's embedded one) at scale: a
    SCHEMALESS CSV read falls back to inference — typed columns beat
    all-strings for interactive use, but the inference pass is an extra
    full scan of the file, so at 100 TB the schema must be explicit.
    Silence the fallback with ``inferSchema="false"`` to take
    all-string columns instead."""
    fmt = fmt or _infer_fmt(path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        # schemaless-CSV fallback (see docstring — NOT free: extra scan)
        options.setdefault("inferSchema", "true")
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).format(fmt).load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Format-dispatched sink. ``partition_by`` is the scale lever — the
    reference's PostgreSQL secondary indexes (src/db.py:34-40) become
    partition pruning on (e.g.) zone_id/date directories."""
    fmt = fmt or _infer_fmt(path)
    writer = df.write.mode(mode)
    if fmt == "csv":
        options.setdefault("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.options(**options).format(fmt).save(path)


def _infer_fmt(path: str) -> str:
    for ext in ("parquet", "csv", "json", "orc"):
        if path.rstrip("/").endswith(ext):
            return ext
    return "parquet"


# ---------------------------------------------------------------------------
# P16: column-alias coalescing
# ---------------------------------------------------------------------------

def coalesce_aliases(
    df: DataFrame,
    aliases: dict[str, list[str]],
    defaults: dict[str, Any] | None = None,
    keep_others: bool = False,
) -> DataFrame:
    """Resolve each logical column from the first *present* alias,
    null-coalesced against the remaining present aliases then the default
    (src/export_json.py:91-121 ``get_col``). Schema tolerance as a
    library helper, not engine semantics: existence is checked against
    ``df.columns`` driver-side; the per-row null fallback is one
    ``F.coalesce`` — no UDF, no extra pass.

    Frame-shaping form of ``functions.scalar.coalesce_aliases`` (the
    single-column resolver plans/export.py uses): each logical column
    DELEGATES to it, so the resolution semantics have exactly one
    definition."""
    from sustainable_building_energy_benchmarking_pipeline_spark.functions.scalar import (
        coalesce_aliases as _resolve_one,
    )

    defaults = defaults or {}
    out_cols: list[Column] = [
        _resolve_one(df, names, defaults.get(logical)).alias(logical)
        for logical, names in aliases.items()
    ]
    if keep_others:
        claimed = {n for names in aliases.values() for n in names}
        out_cols = [F.col(c) for c in df.columns if c not in claimed] + out_cols
    return df.select(*out_cols)


# ---------------------------------------------------------------------------
# S4 / S12: JDBC scan and batched sink
# ---------------------------------------------------------------------------

def read_jdbc(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Parameterized-SELECT scan (src/db.py:166). Pass the partition_*
    quartet for a parallel range-partitioned read — a single-connection
    JDBC scan is the 100 TB anti-pattern.

    Spark forbids combining the ``query`` option with ``partitionColumn``
    (found the hard way against embedded Derby — see
    tests/test_io.py::test_jdbc_roundtrip_derby), so the partitioned
    form wraps the SELECT as a ``dbtable`` subquery; Spark then appends
    its per-partition range predicates to that derived table. Quote
    identifiers in ``query``/``partition_column`` to match how Spark
    writes them (it creates tables with quoted, case-preserved names,
    which case-folding databases like Derby otherwise won't resolve)."""
    reader = spark.read.format("jdbc").option("url", url)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # str(None) would ship the literal string 'None' as a bound
            # and die deep in Spark's JDBC option parsing — fail at the
            # call site with the actual contract instead
            raise ValueError(
                "partition_column requires explicit lower_bound and "
                "upper_bound (the range Spark splits into numPartitions "
                "per-partition predicates)"
            )
        reader = (
            reader.option("dbtable", f"({query}) spark_subq")
            .option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    else:
        reader = reader.option("query", query)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 1000,
    properties: dict[str, str] | None = None,
) -> None:
    """Batched append (src/db.py:65-110): the reference's hand-rolled
    1,000-row executemany loop is the JDBC writer's ``batchsize`` option;
    each write task batches independently."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()

