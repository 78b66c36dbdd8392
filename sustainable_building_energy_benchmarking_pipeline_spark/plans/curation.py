"""Corpus curation as a reusable plan: the dedup → quality-filter →
source-cap chain a training-data pipeline runs before sampling/packing
(z07/z08/z09 are the registry's oracle-checked views of these stages;
the CLI ``curate`` subcommand is the batch surface).

Every stage keeps its scale-safe shape:
- exact dedup shuffles only the 32-byte text fingerprint (min-doc_id
  keep per duplicate group);
- the repetition filter is pure array expressions (zero UDFs);
- the per-source cap is a constant ``row_number() <= cap`` window,
  which Spark plans with a Partial WindowGroupLimit — reduce input is
  bounded at cap × map-partitions per source regardless of skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sustainable_building_energy_benchmarking_pipeline_spark.functions.text import ws_tokens


def text_fingerprint(text_col: str = "text") -> Column:
    """Normalization + digest shared by every curation surface (batch
    plan, z09 oracle): sha256 of lower/trimmed text."""
    return F.sha2(F.lower(F.trim(F.col(text_col))), 256)


def repetition_frac(text_col: str = "text") -> Column:
    """Duplicate-token fraction (z07's gate), zero-token-guarded: an
    empty/whitespace doc has no repetition (0.0 — kept by the filter),
    and under ANSI mode the unguarded division is a runtime
    DIVIDE_BY_ZERO, not a NULL."""
    toks = ws_tokens(F.col(text_col))
    return F.when(
        F.size(toks) > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double"),
    ).otherwise(F.lit(0.0))


def dedup_min_id(
    df: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "_fp",
) -> DataFrame:
    """Keep MIN(id) per fingerprint group (``fp_col`` must already be
    attached).

    Shuffle honesty: the window hash-partitions FULL ROWS (text
    included) on the digest — one corpus-sized shuffle. A digest-only
    shuffle does not exist for exact dedup in one pass: the keep-set
    alternative (groupBy(fp).agg(min(id)) then join back) shuffles only
    (fp, id) pairs in the aggregate but the join then re-shuffles the
    full rows anyway, trading one corpus shuffle for a corpus shuffle
    plus an extra aggregate. The window form is the minimum-pass shape;
    the way to make the shuffle cheap at 100 TB is upstream — bucket or
    pre-partition the corpus by the fingerprint so the exchange is
    already satisfied (``DataFrameWriter.bucketBy`` + ``saveAsTable``
    on the fingerprint), or run the Bloom ledger path
    (z01/z04) that moves digests only for the INCREMENTAL case."""
    keep_w = Window.partitionBy(fp_col)
    return (
        df.withColumn("_keep", F.min(id_col).over(keep_w))
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_keep")
    )


def curate_documents(
    docs: DataFrame,
    dup_frac_max: float = 0.55,
    source_cap: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """The surviving corpus after exact dedup, repetition filtering and
    per-source caps — original columns only, one lazy plan.

    Keep rules (deterministic, engine-portable):
    - duplicate groups (sha256 of lower/trimmed text) keep MIN(id);
    - documents with duplicate-token fraction > ``dup_frac_max`` drop;
    - each source keeps its ``source_cap`` lowest sha256(id) ranks.
    """
    deduped = dedup_min_id(
        docs.withColumn("_fp", text_fingerprint(text_col)), id_col=id_col
    ).drop("_fp")
    clean = deduped.filter(repetition_frac(text_col) <= dup_frac_max)
    cap_w = Window.partitionBy(source_col).orderBy(
        F.sha2(F.col(id_col).cast("string"), 256), F.asc(id_col)
    )
    return (
        clean.withColumn("_rk", F.row_number().over(cap_w))
        .filter(F.col("_rk") <= source_cap)
        .drop("_rk")
    )


