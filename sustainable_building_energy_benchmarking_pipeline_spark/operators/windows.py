"""Window / time-series operator toolkit (SURVEY.md §2.5, W1-W10).

Replaces the reference's hand-rolled per-zone loop
(``src/pipeline_batch.py:100-151``) and run/oscillation scanners
(``src/models.py:66-234``) with single-shuffle window-function plans:
one hash shuffle on the partition key, then all rolling/lag/run logic
executes inside the sorted window — no driver-side loops, no Python row
code, fully whole-stage-codegen'd.

Scale note: a window over ``partitionBy(k).orderBy(ts)`` shuffles once on
``k`` and sorts within partitions. At 100 TB the only concern is key skew
(one giant partition); AQE does not split window skew. Remedies by case:
constant ``row_number() <= k`` filters get rank-limit pushdown for free
(Partial WindowGroupLimit bounds reduce input at k·maps per group);
unbounded ranks/cumsums over LOW-CARDINALITY strata use
``stratified_rank`` / ``stratified_cumsum`` (two-pass, single lazy
plan); bounded frames pre-split by adding a coarse bucket to the
partition key with frame-width overlap (rolling frames ≤ N rows only
need N rows of overlap — see q95's megabin ghost-row split).

Cost note on frames: Spark evaluates a growing
``(unboundedPreceding, currentRow)`` frame incrementally, O(n) per
partition, but recomputes a ``(currentRow, unboundedFollowing)`` frame
from scratch for every row — O(n²) per partition (SCALE.md §10 has the
HVAC ETL's numbers). Look-ahead fills therefore run as a look-back over
the exactly reversed order (``bfill``); no operator here or in the plans
uses an unbounded-following row frame (``tests/test_plan_hygiene.py``
gates it).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def ordered_window(partition_by: str | Sequence[str], order_by: str | Sequence[str]) -> WindowSpec:
    """``PARTITION BY ... ORDER BY ...`` — the core time-series window
    (SURVEY §2.5: ``Window.partitionBy("zone_id").orderBy("timestamp")``)."""
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    orders = [order_by] if isinstance(order_by, str) else list(order_by)
    return Window.partitionBy(*parts).orderBy(*orders)


def rolling_mean(col: str | Column, w: WindowSpec, n_rows: int) -> Column:
    """W1/W3: trailing ``n_rows``-row mean incl. current row.

    pandas ``rolling(n, min_periods=1).mean()`` semantics: Spark's frame
    ``rowsBetween(-(n-1), 0)`` averages over however many rows exist, which
    IS min_periods=1 (cf. src/pipeline_batch.py:105-107).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.avg(c).over(w.rowsBetween(-(n_rows - 1), 0))


def rolling_std(col: str | Column, w: WindowSpec, n_rows: int) -> Column:
    """W2: trailing sample stddev (ddof=1, same as pandas), NaN→0 on
    single-row frames (reference fills NaN with 0,
    src/pipeline_batch.py:108-110)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.stddev(c).over(w.rowsBetween(-(n_rows - 1), 0)), F.lit(0.0))


def lag_col(col: str | Column, w: WindowSpec, n: int = 1) -> Column:
    """W4: ``shift(n)`` (src/pipeline_batch.py:140-142)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lag(c, n).over(w)


def diff_col(col: str | Column, w: WindowSpec, n: int = 1) -> Column:
    """W5: ``diff(n)`` = value − lag(n) (src/pipeline_batch.py:145-146)."""
    c = F.col(col) if isinstance(col, str) else col
    return c - F.lag(c, n).over(w)


def ffill(col: str | Column, w: WindowSpec) -> Column:
    """P11: per-group forward-fill (pandas ``groupby().ffill()``,
    src/pipeline_batch.py:55-59) — last non-null up to current row."""
    c = F.col(col) if isinstance(col, str) else col
    return F.last(c, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


class Desc(NamedTuple):
    """Marks an ``order_by`` key of :func:`bfill` descending (``DESC NULLS
    LAST``); bare keys sort ``ASC NULLS FIRST``, Spark's default."""

    key: str | Column


OrderKey = str | Column | Desc


def _reversed_order(order_by: OrderKey | Sequence[OrderKey]) -> list[Column]:
    """The exact reverse of a sort order: every key flips its direction
    AND its null placement (``ASC NULLS FIRST`` <-> ``DESC NULLS LAST``),
    so NULL keys move to the other end too."""
    keys = [order_by] if isinstance(order_by, (str, Column, Desc)) else order_by
    out = []
    for k in keys:
        c = k.key if isinstance(k, Desc) else k
        c = F.col(c) if isinstance(c, str) else c
        out.append(c.asc_nulls_first() if isinstance(k, Desc) else c.desc_nulls_last())
    return out


def bfill(
    col: str | Column,
    partition_by: str | Sequence[str],
    order_by: OrderKey | Sequence[OrderKey],
) -> Column:
    """P12: per-group backward-fill (pandas ``groupby().bfill()``,
    src/pipeline_batch.py:149) — the first non-null from the current row
    on, in ``order_by`` order within ``partition_by``.

    Cost: runs as ``last(ignorenulls)`` over the exactly reversed order
    with a growing ``(unboundedPreceding, currentRow)`` frame, which Spark
    updates incrementally — O(n) per partition. The direct look-ahead,
    ``first`` over ``(currentRow, unboundedFollowing)``, is O(n²): Spark
    re-aggregates the rest of the partition for every row. The reversed
    window shares the partition key's exchange with any forward window
    and adds one local sort. A ``WindowSpec`` cannot be reversed once
    built, hence the keys rather than a spec. Rows tied on ``order_by``
    fill in an arbitrary order, as with any row frame."""
    c = F.col(col) if isinstance(col, str) else col
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    w = Window.partitionBy(*parts).orderBy(*_reversed_order(order_by))
    return F.last(c, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def detect_runs(
    df: DataFrame,
    cond: Column,
    partition_by: str | Sequence[str],
    order_by: str | Sequence[str],
    min_run_length: int,
    run_id_col: str = "_run_id",
    run_len_col: str = "_run_len",
) -> DataFrame:
    """W6: gaps-and-islands — consecutive-run detection.

    Returns every row of runs where ``cond`` held for at least
    ``min_run_length`` consecutive rows, with ``_run_id`` / ``_run_len``
    columns attached. Re-expresses the sequential scan of
    ``src/models.py:66-127`` (temp-drift rule: temp_error > 3.0 for ≥ 6
    consecutive 5-min rows) as two window passes:

    1. run grouper: cumulative sum of condition-boundary markers;
    2. run length: count over (partition, run_id).

    Cost: one shuffle on the partition key (both windows and the final
    filter share it).
    """
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    orders = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(*parts).orderBy(*orders)

    # NULL condition rows count as False (pandas parity: NaN > 3.0 is
    # False, so a null reading BREAKS a run). Without the coalesce a
    # null row is neither a boundary (NULL != lag yields NULL → 0) nor
    # filtered from the run's count — runs merge across nulls and
    # run_len inflates by the null rows.
    flagged = df.withColumn("_cond", F.coalesce(cond.cast("int"), F.lit(0)))
    # boundary = condition value changed vs previous row (first row = boundary)
    boundary = F.when(
        F.lag("_cond").over(w).isNull() | (F.col("_cond") != F.lag("_cond").over(w)), 1
    ).otherwise(0)
    flagged = flagged.withColumn(
        run_id_col,
        F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    w_run = Window.partitionBy(*parts, run_id_col)
    flagged = flagged.withColumn(run_len_col, F.count(F.lit(1)).over(w_run))
    return flagged.filter(
        (F.col("_cond") == 1) & (F.col(run_len_col) >= min_run_length)
    ).drop("_cond")


def sliding_sign_change_count(
    value_col: str | Column,
    w: WindowSpec,
    n_rows: int,
) -> Column:
    """W7 core: count of sign changes of ``value_col`` within the trailing
    ``n_rows``-row window — exactly the reference's
    ``np.sum(np.diff(np.sign(window)) != 0)`` over a 12-row window
    (src/models.py:210-215, oscillating-control rule): a *change* is any
    pair where ``sign != sign(lag)`` (transitions through zero count),
    and an ``n_rows`` window holds ``n_rows - 1`` pairs, hence the
    ``-(n_rows - 2)`` frame (the pair crossing the window boundary is
    excluded). First-row pairs (lag NULL) count 0.

    The reference advances non-overlapping windows; this overlapping-window
    version flags supersets of the reference's rows — callers needing exact
    reference semantics combine this with ``detect_runs`` dedup or
    ``applyInPandas`` (see plans.detection.oscillating_control).
    """
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    sign_change = F.when(
        F.signum(c) != F.signum(F.lag(c, 1).over(w)), 1
    ).otherwise(0)
    return F.sum(sign_change).over(w.rowsBetween(-(n_rows - 2), 0))


def top_k_per_group(
    df: DataFrame,
    partition_by: str | Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "_rank",
) -> DataFrame:
    """W8: deterministic per-group top-k via row_number.

    ``order_by`` must include a unique tiebreaker column for deterministic
    results (driver's value-hash comparison requires stable membership).
    """
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    w = Window.partitionBy(*parts).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop(rank_col)
    )


def percentile_rank(order_by: Column) -> Column:
    """W9 (bounded-input form): percent_rank × 100 — the
    ``energy_percentile`` column the export schema carries but the
    reference never truly computes (src/export_json.py:99,119; SURVEY W9
    'a genuine gap worth implementing').

    A no-partition window forces every row through ONE task — fine for
    the export path's bounded building tables, a scale-killer on a fact
    table. Unbounded inputs use ``distributed_percent_rank``."""
    return F.percent_rank().over(Window.orderBy(order_by)) * 100


def distributed_percent_rank(
    df: DataFrame,
    order_by: Sequence[str | Column],
    out_col: str = "percent_rank",
    scale: float = 1.0,
    num_partitions: int | None = None,
) -> DataFrame:
    """W9 (scale form): global percent-rank with NO single-task window —
    the two-pass distributed CDF.

    ``Window.orderBy(...)`` with no partition key funnels the whole
    table through one task (Spark warns "No Partition Defined"). This
    computes the identical ranks distributed:

    1. ``repartitionByRange`` on the order keys (deterministic
       reservoir-sampled bounds) + ``sortWithinPartitions`` — a sorted
       range partitioning, every partition's keys strictly below the
       next partition's (ascending, NULLS FIRST in both APIs);
    2. per-row LOCAL rank for free from
       ``monotonically_increasing_id()``: post-sort, its low 33 bits are
       the row's position within its partition and its high bits the
       partition id — JVM-side, zero extra shuffle, no Python;
    3. per-partition row counts (a tiny ``n_partitions``-row aggregate)
       collect to the driver, cumulative offsets broadcast-join back;
    4. global rank = offset + local rank; percent_rank = rank/(n−1).

    The ranged frame is persisted (MEMORY_AND_DISK) before the counts
    job: range-exchange *sampling is nondeterministic across jobs* (a
    re-executed exchange draws different bounds), so the counts job and
    the final job MUST read the same materialized partitions or the
    offsets silently misalign. Cost: one linear materialization + a
    cached re-read versus the single-task sort of the window form — the
    right trade everywhere above toy scale (the cache is released by
    Spark's ContextCleaner when the result goes out of scope).

    ``order_by`` must be a unique ordering (append a tiebreaker column,
    as every LIMIT/top-k query here already does): with unique keys
    rank == row_number and the result equals SQL PERCENT_RANK exactly;
    duplicate keys would get arbitrary distinct ranks instead of tying.
    Returns ``df`` + ``out_col`` (percent_rank × ``scale``); single-row
    input gets 0.0 (the SQL convention).
    """
    ranked, total = _global_rank0(df, order_by, num_partitions)
    if ranked is None:
        return df.withColumn(out_col, F.lit(0.0))
    rank0 = F.col("_rn0").cast("double")
    pct = (
        (rank0 / F.lit(float(total - 1))) * F.lit(float(scale))
        if total > 1
        else F.lit(0.0)
    )
    return ranked.withColumn(out_col, pct).drop("_rn0")


def distributed_ntile(
    df: DataFrame,
    order_by: Sequence[str | Column],
    k: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """NTILE(k) with NO single-task window — same two-pass global rank as
    ``distributed_percent_rank``, then SQL NTILE's bucket arithmetic from
    the 0-based rank: with n rows, the first ``n mod k`` buckets hold
    ``ceil(n/k)`` rows, the rest ``floor(n/k)`` (first buckets biggest —
    the standard that a round-robin formula does NOT reproduce).

    ``order_by`` must be a unique ordering (tiebreaker column) for
    deterministic bucket membership at the boundaries. Returns ``df`` +
    ``out_col`` (INT, 1-based), matching ``NTILE(k) OVER (ORDER BY ...)``
    row-for-row."""
    ranked, total = _global_rank0(df, order_by, num_partitions)
    if ranked is None:
        return df.withColumn(out_col, F.lit(None).cast("int"))
    big = -(-total // k)          # ceil(n/k)
    small = total // k
    n_big = total % k
    big_span = n_big * big
    rn0 = F.col("_rn0")
    bucket = (
        F.when(rn0 < big_span, (rn0 / big).cast("int") + 1)
        .otherwise((F.lit(n_big) + (rn0 - big_span) / F.lit(max(small, 1))).cast("int") + 1)
        if small > 0
        else (rn0 / big).cast("int") + 1
    )
    return ranked.withColumn(out_col, bucket.cast("int")).drop("_rn0")


def _global_rank0(
    df: DataFrame,
    order_by: Sequence[str | Column],
    num_partitions: int | None = None,
) -> tuple[DataFrame | None, int]:
    """Shared two-pass global 0-based row number (steps 1-4 of
    ``distributed_percent_rank``'s docstring): range-partition + local
    sort, local position from ``monotonically_increasing_id`` bit-split,
    per-partition counts → cumulative offsets applied back. Returns
    (df + ``_rn0``, total rows); (None, 0) on empty input."""
    from pyspark import StorageLevel

    # same scratch-collision refusal the stratified helpers have: a
    # caller column named like the scratch would be overwritten and then
    # silently dropped from the output
    _check_reserved(df, ("_mid", "_pid", "_lrn", "_off", "_rn0"))
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    ranged = df.repartitionByRange(n_parts, *cols).sortWithinPartitions(*cols)
    with_id = (
        ranged.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftrightunsigned(F.col("_mid"), 33))
        .withColumn("_lrn", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
        .drop("_mid")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the persisted frame outlives this call (the returned lazy plan
    # reads it) — register the release handle so clear_query_cache()
    # returns the storage cache to baseline (round-8 lifecycle contract)
    from sustainable_building_energy_benchmarking_pipeline_spark.session import register_query_cache

    register_query_cache(with_id)
    stats = sorted(
        with_id.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).collect(),
        key=lambda r: r["_pid"],
    )
    if not stats:
        return None, 0
    total = sum(r["_cnt"] for r in stats)
    offsets, acc = [], 0
    for r in stats:
        offsets.append((r["_pid"], acc))
        acc += r["_cnt"]
    # attach offsets: for bounded partition counts a create_map literal
    # beats a broadcast join (no build side, no extra exchange — 0.64 s
    # vs 1.07 s at sf0.1); past ~1k partitions the literal's expression
    # tree gets expensive to analyze, so fall back to the broadcast join
    if len(offsets) <= 1024:
        off_map = F.create_map(
            *[F.lit(v) for pid, off in offsets for v in (pid, off)]
        )
        offset_applied = with_id.withColumn("_off", off_map[F.col("_pid")])
    else:
        off_df = spark.createDataFrame(offsets, "_pid LONG, _off LONG")
        offset_applied = with_id.join(F.broadcast(off_df), "_pid")
    return (
        offset_applied.withColumn("_rn0", F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off"),
        total,
    )


def _check_reserved(df: DataFrame, names: tuple[str, ...]) -> None:
    """The stratified helpers add scratch columns; a caller column with
    one of those names would silently corrupt the offsets — refuse."""
    clash = set(names) & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns collide with reserved scratch names: {sorted(clash)}"
        )


def stratified_rank(
    df: DataFrame,
    stratum_col: str,
    order_by: Sequence[str | Column],
    out_col: str = "stratum_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """``ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY ...)`` with NO
    per-stratum window — the skew-safe form for LOW-CARDINALITY strata.

    A window partition cannot be split across tasks, so
    ``Window.partitionBy("lang")`` ranks the dominant language (≈half a
    web crawl) in ONE task no matter how many executors exist. This
    generalizes ``_global_rank0``'s two-pass rank to per-stratum offsets:

    1. range-partition + local sort on ``(stratum, *order_by)`` — each
       stratum occupies a contiguous RUN of partitions (big strata span
       many tasks, which is the whole point), and within a partition its
       rows are contiguous and sorted;
    2. local position from ``monotonically_increasing_id`` bit-split
       (position within the task's partition, across strata);
    3. a tiny per-(partition, stratum) stats job — ≤ n_partitions +
       n_strata rows total, because range partitioning makes each
       (pid, stratum) run contiguous — collects count + min local
       position;
    4. rank = cumulative stratum offset over preceding partitions
       + (local position − the stratum's min local position in this
       partition), attached back via a broadcast of the tiny stats.

    ``order_by`` must uniquely order rows WITHIN a stratum (append a
    tiebreaker) so rank == row_number deterministically. Returns ``df``
    + ``out_col`` (LONG, 1-based like ROW_NUMBER). Null strata are
    ranked as their own group (null-safe joins).

    ONE lazy plan, no persist, no driver collect: the stats subtree and
    the data subtree share the same range exchange (Spark's
    ReuseExchange/AQE stage reuse evaluates it once per action), the
    per-stratum prefix offsets come from a self-join of the tiny stats
    frame (≤ n_partitions + n_strata rows — range partitioning keeps
    each (partition, stratum) run contiguous), and the final rank is a
    broadcast attach. Unlike ``distributed_percent_rank``'s
    materialize-then-count shape, nothing here depends on WHICH
    boundaries the range sampler drew: the rank is a pure function of
    the total (stratum, order) order, so separate actions agree even if
    their exchanges sample different boundaries."""
    _check_reserved(df, ("_mid", "_pid", "_lrn", "_opid", "_ostr", "_base", "_ominl"))
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    keys = [F.col(stratum_col), *ocols]
    ranged = df.repartitionByRange(n_parts, *keys).sortWithinPartitions(*keys)
    with_id = (
        ranged.withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftrightunsigned(F.col("_mid"), 33))
        .withColumn("_lrn", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
        .drop("_mid")
    )
    stats = with_id.groupBy("_pid", stratum_col).agg(
        F.count(F.lit(1)).alias("_cnt"), F.min("_lrn").alias("_minl")
    )
    a, b = stats.alias("a"), stats.alias("b")
    base = (
        a.join(
            b,
            F.col(f"a.{stratum_col}").eqNullSafe(F.col(f"b.{stratum_col}"))
            & (F.col("b._pid") < F.col("a._pid")),
            "left",
        )
        .groupBy(
            F.col("a._pid").alias("_opid"),
            F.col(f"a.{stratum_col}").alias("_ostr"),
            F.col("a._minl").alias("_ominl"),
        )
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_base"))
    )
    joined = with_id.join(
        F.broadcast(base),
        (F.col("_pid") == F.col("_opid"))
        & F.col(stratum_col).eqNullSafe(F.col("_ostr")),
    )
    return (
        joined.withColumn(
            out_col, F.col("_base") + F.col("_lrn") - F.col("_ominl") + F.lit(1)
        )
        .drop("_pid", "_lrn", "_opid", "_ostr", "_base", "_ominl")
    )


def stratified_cumsum(
    df: DataFrame,
    stratum_col: str,
    order_by: Sequence[str | Column],
    value_col: str,
    out_col: str = "stratum_cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """``SUM(value) OVER (PARTITION BY stratum ORDER BY ... ROWS
    UNBOUNDED PRECEDING)`` with NO per-stratum window — running-total
    sibling of ``stratified_rank`` for LOW-CARDINALITY strata (per-lang
    shard packing, per-enum cumulative distributions).

    Shape: range-partition on ``(stratum, *order_by)`` (strata span
    contiguous partition runs), take the partition id from
    ``spark_partition_id``, then the LOCAL running sum through a window
    over ``(_pid, stratum)`` — every such group is bounded by one range
    partition, so the window is skew-free by construction (this costs
    one extra balanced hash exchange; the alternative is one task per
    stratum). Per-stratum prefix offsets over preceding partitions come
    from a self-join of the tiny per-(pid, stratum) totals frame
    (≤ n_partitions + n_strata rows), all in ONE lazy plan — the stats
    subtree shares the range exchange via ReuseExchange, and like
    ``stratified_rank`` the result is a pure function of the total
    order, independent of sampled boundaries. ``order_by`` must
    uniquely order rows within a stratum. Returns ``df`` + ``out_col``
    (same type as SUM over ``value_col``)."""
    _check_reserved(df, ("_pid", "_opid", "_ostr", "_base", "_lcs"))
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    keys = [F.col(stratum_col), *ocols]
    with_id = df.repartitionByRange(n_parts, *keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    stats = with_id.groupBy("_pid", stratum_col).agg(
        F.sum(value_col).alias("_tot")
    )
    a, b = stats.alias("a"), stats.alias("b")
    base = (
        a.join(
            b,
            F.col(f"a.{stratum_col}").eqNullSafe(F.col(f"b.{stratum_col}"))
            & (F.col("b._pid") < F.col("a._pid")),
            "left",
        )
        .groupBy(
            F.col("a._pid").alias("_opid"),
            F.col(f"a.{stratum_col}").alias("_ostr"),
        )
        .agg(F.sum("b._tot").alias("_base"))
    )
    local_w = (
        Window.partitionBy("_pid", stratum_col)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = with_id.withColumn("_lcs", F.sum(value_col).over(local_w))
    joined = local.join(
        F.broadcast(base),
        (F.col("_pid") == F.col("_opid"))
        & F.col(stratum_col).eqNullSafe(F.col("_ostr")),
    )
    return (
        joined.withColumn(
            out_col, F.coalesce(F.col("_base"), F.lit(0)) + F.col("_lcs")
        )
        .drop("_pid", "_opid", "_ostr", "_base", "_lcs")
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int = 42,
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Reproducible global corpus shuffle — the training-order primitive:
    every run (any partitioning, any cluster size) assigns each row the
    SAME pseudo-random 0-based position, so a training job can resume or
    be re-run bit-identically, and changing ``seed`` reshuffles.

    The shuffle key is ``sha2(seed || ':' || id)`` — cryptographic, so
    positions are uncorrelated with the id order, and cross-engine
    reproducible (any SQL engine computes the identical key). The global
    position comes from the shared two-pass distributed rank
    (``_global_rank0``: range-partition on the key + local sort + offset
    fix-up) — never a single-partition window, so the sort stays fully
    parallel at any corpus size. The contract requires NON-NULL unique
    ids: unique keys ⇒ a total order with no tie ambiguity. A null id is
    coalesced to '' (one deterministic slot, identical across engines —
    CONCAT null semantics differ between Spark and DuckDB otherwise);
    multiple null ids would tie and are outside the contract."""
    _check_reserved(df, ("_sk",))  # _global_rank0 guards its own scratch
    key = F.sha2(
        F.concat_ws(
            ":",
            F.lit(str(seed)),
            F.coalesce(F.col(id_col).cast("string"), F.lit("")),
        ),
        256,
    )
    ranked, _total = _global_rank0(df.withColumn("_sk", key), ["_sk"])
    if ranked is None:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    return ranked.withColumn(out_col, F.col("_rn0")).drop("_sk", "_rn0")


def sequence_pack(
    df: DataFrame,
    group_col: str | Sequence[str],
    order_col: str,
    tokens_col: str,
    budget: int,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Greedy sequence packing (round-10): assign each row of a group,
    in ``order_col`` order, to consecutive token bins of capacity
    ``budget`` — the fill step of an LLM pretraining pipeline that packs
    documents into fixed-length training sequences (next-fit: a row
    that would overflow the open bin starts the next one; an oversize
    row occupies its own bin). Returns the input columns plus
    ``bin_col`` (1-based, per group).

    Scale shape (100 TB): packing is inherently SEQUENTIAL within a
    stream, so the parallel unit is the group — exactly how production
    packers shard (pack within a shard/source, never globally). One
    hash shuffle on ``group_col``, then an O(n) integer pass per group
    inside an Arrow kernel; per-task memory is ONE GROUP's rows, so at
    corpus scale the caller must shard finely enough — ``group_col``
    takes a list (e.g. ``["source", "date_shard"]``) precisely so a
    mega-source splits into bounded packing streams, the same contract
    as production packers. The greedy
    next-fit rule is deterministic and order-free of float state, so a
    SQL engine can replay it exactly (sequential recursion) — unlike
    first-fit-decreasing, whose bin search resists set logic.
    ``order_col`` must be UNIQUE within each group (enforced): ties
    would pack in nondeterministic arrival order.
    Reference precedent: none (the pandas reference has no packing);
    this is part of the round-4+ LLM-data-pipeline surface."""
    import pandas as pd

    from pyspark.sql import types as T

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(bin_col, T.LongType(), False)]
    )
    if bin_col in df.columns:
        raise ValueError(f"column {bin_col!r} already exists")

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="stable").reset_index(drop=True)
        if pdf[order_col].duplicated().any():
            # ties would pack in ARRIVAL order, which Spark does not fix
            # across runs — the deterministic/oracle-replayable contract
            # demands a total order within each group
            raise ValueError(
                f"sequence_pack: order column {order_col!r} has duplicate "
                "values within a group — packing would be "
                "nondeterministic; order by a unique key"
            )
        toks = pdf[tokens_col].to_numpy()
        bins = []
        bin_id, fill = 1, 0
        for t in toks:
            t = int(t)
            if fill and fill + t > budget:
                bin_id += 1
                fill = 0
            fill += t
            bins.append(bin_id)
        pdf[bin_col] = pd.Series(bins, dtype="int64")
        return pdf

    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    return df.groupBy(*groups).applyInPandas(_pack, out_schema)
