"""Join strategies beyond what AQE picks automatically.

AQE's skew-join splitting (enabled in session.py) handles skew at
runtime; the operators here are the shapes it cannot pick for you.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def latest_state_per_key(
    updates: DataFrame,
    key_cols: list[str] | str,
    order_cols: list[Column | str],
    how: str = "max_by",
) -> DataFrame:
    """CDC/upsert compaction WITHOUT a table format: reduce an update
    stream to the latest row per key — the merge step Delta/Iceberg
    perform internally, expressed over plain parquet.

    ``max_by`` form: one aggregation (partial map-side combine, single
    shuffle of one struct per key per map task — the 100 TB shape).
    ``window`` form (how="window"): row_number() DESC, filter rn=1 —
    same result, but shuffles every row; kept for when the full ordered
    history is needed anyway. ``order_cols`` must totally order updates
    within a key (e.g. ts + a unique id as tiebreaker) for deterministic
    output.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    ords = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    if how == "max_by":
        payload = F.struct(*[F.col(c) for c in updates.columns])
        rank = F.struct(*ords)
        latest = updates.groupBy(*keys).agg(
            F.max_by(payload, rank).alias("_row")
        )
        return latest.select([F.col(f"_row.{c}").alias(c) for c in updates.columns])
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in ords])
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def binned_range_join(
    intervals: DataFrame,
    points: DataFrame,
    lo_col: str = "lo",
    hi_col: str = "hi",
    point_col: str = "p",
    bin_size: int = 32,
) -> DataFrame:
    """Interval × point range join (``lo <= p < hi``) as an EQUI-join on
    bin ids — the operator Spark itself lacks: a plain non-equi join
    plans as BroadcastNestedLoopJoin (O(|I|·|P|) comparisons, and a hard
    wall once neither side broadcasts).

    Shape: each interval replicates to every ``bin_size``-wide bin it
    overlaps (``ceil(span / bin_size)`` rows, bounded replication); each
    point maps to exactly one bin; the join is then a hash equi-join on
    the bin id — both sides shuffle ONCE on the bin key, comparisons
    happen only within a bin, and the exact predicate filters the bin's
    false candidates. Pick ``bin_size`` near the median interval span:
    smaller bins → more interval replicas; larger bins → more false
    candidates per bin. Hot bins (a point pile-up) are ordinary join
    skew — AQE's skew split (on in session.py) handles them.

    ``lo``/``hi``/``point`` must be integer-valued columns (days since
    epoch, unix seconds, …) — callers convert dates/timestamps first.
    Column names must not collide across the two inputs (rename before
    calling, as with any join).
    """
    w = F.lit(int(bin_size))
    # empty intervals (hi <= lo) match nothing; drop them BEFORE the
    # sequence, which would otherwise count DOWN for stop < start and
    # replicate the interval into wrong bins
    binned_intervals = intervals.filter(F.col(hi_col) > F.col(lo_col)).withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w),
                F.floor((F.col(hi_col) - 1) / w),
            )
        ),
    )
    binned_points = points.withColumn("_bin", F.floor(F.col(point_col) / w))
    return (
        binned_points.join(binned_intervals, "_bin")
        .filter(
            (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
        )
        .drop("_bin")
    )


def _deletion_variants_pos(s: Column) -> Column:
    """Every string obtained by deleting one character of ``s``; array
    index k (0-based) = deletion at position k+1. Pure JVM transform.
    Empty input yields an empty array — the slice guard matters because
    ``F.sequence(1, 0)`` counts DOWN instead of producing an empty
    sequence."""
    raw = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
        lambda i: F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, F.length(s))),
    )
    return F.slice(raw, 1, F.length(s))


def fuzzy_join_ed1(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    self_join: bool = False,
    keep_rows: bool = False,
) -> DataFrame:
    """Fuzzy key join at edit distance ≤ 1 (insert/delete/substitute) —
    the entity-resolution operator Spark lacks: a naive form is an
    O(|L|·|R|) cross join with a levenshtein filter, which plans as
    BroadcastNestedLoopJoin and hits a wall once neither side fits in
    memory.

    Shape: position-aware SymSpell decomposition. Each edit class is an
    exact equi-join, so there is NO verification step and NO dedup:

    - dist 0 (equality): ``s = t`` directly;
    - substitution: ``del_i(s) = del_i(t)`` at the SAME position i ⟺
      s and t differ at exactly position i — join the position-indexed
      deletion arrays on (i, variant). A pair differing at exactly one
      position matches at exactly that i, so each pair emits once;
    - deletion/insertion: ``t = del_i(s)`` (resp. ``s = del_i(t)``) —
      join the whole key against the other side's DISTINCT deletion
      variants (array-level distinct, so duplicate characters cannot
      double-emit a pair).

    The classes are disjoint (equal lengths vs lengths ±1), so the
    union needs no distinct. Versus the classic shared-neighborhood
    join + levenshtein verify, this removes the two wide ops that
    dominate it (the verify ran on every band collision, the distinct
    shuffled them) and splits the variant buckets by position — Σ
    bucket² drops, which is also the 100 TB skew story. Work remains
    the LSH-bucket cost model, not |L|·|R|; a pile-up on a short common
    variant is ordinary join skew (AQE splits it).

    Returns distinct ``(left_key, right_key, dist)`` with dist ≤ 1,
    NULL keys dropped. Self-matches of a self-join (same string both
    sides) come back at dist 0 — filter at the call site.

    ``keep_rows=True`` (round-9, advisory #3) restores ROW-LEVEL
    multiplicity: the full ``left`` and ``right`` rows re-join onto the
    distinct-key matches, so a key appearing in N left rows and M
    matching right rows emits N×M pairs — what entity-resolution
    callers expect from a join, without each of them re-deriving the
    re-join (and silently losing duplicate source rows when they
    forget). Output columns: every left column, every right column
    (caller must pre-disambiguate collisions, as with any join), then
    ``dist``. The core match stays distinct-key sized; the fan-out is
    two equi-joins AFTER the edit-distance work, so the scale shape is
    unchanged.

    ``self_join=True`` declares left and right the SAME key set (the
    entity-resolution self-match case) and halves the work: the dist-0
    class is exactly the identity pairs (emitted without a join), and
    the insertion class is the mirror image of the deletion class
    (``s = del_i(t)`` ⟺ ``t`` inserts into ``s``), so one join serves
    both via a column swap. Caller-visible output is identical.
    """
    from pyspark import StorageLevel

    # Persist the distinct key frames: L feeds FIVE subtrees in the
    # self-join plan (identity pairs, both sides of the substitution
    # join, the deletion explode, and the deletion probe side), each of
    # which otherwise re-runs the scan + distinct shuffle. One string
    # column of deduplicated keys — the smallest frame in the plan —
    # and the production SymSpell shape materializes its deletion index
    # anyway. A/B at sf0.1 (whole q67): 1.87 s unpersisted, 0.98 s with
    # L persisted; persisting the EXPLODED variant frame instead
    # measured slower (1.54 s) — the barrier on the wide frame costs
    # more than re-running the explode from cached keys. Both persists
    # REGISTER a release handle (round-12, ADVICE r11 #4): a long
    # session fuzzy-joining many distinct key sets calls
    # session.clear_query_cache() — the engine's bench harness does so
    # per query — and the accumulated frames release deterministically
    # instead of growing until clearCache.
    from sustainable_building_energy_benchmarking_pipeline_spark.session import (
        register_query_cache,
    )

    L = (
        left.select(F.col(left_key).cast("string").alias("left_key"))
        .where(F.col("left_key").isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    register_query_cache(L)
    # eager barrier (round-12, the minhash lesson): the five consumer
    # subtrees fork into differently-keyed exchanges that AQE
    # materializes in parallel — a lazily-persisted L gets its cold
    # scan+distinct computed once per racer (stage profile showed the
    # key scan reading twice inside one stage). One count() populates
    # the cache before the fork.
    L.count()
    R = (
        right.select(F.col(right_key).cast("string").alias("right_key"))
        .where(F.col("right_key").isNotNull())
        .distinct()
    )
    if not self_join:
        R = R.persist(StorageLevel.MEMORY_AND_DISK)
        register_query_cache(R)
        R.count()
    dist0, dist1 = F.lit(0).alias("dist"), F.lit(1).alias("dist")

    if self_join:
        eq = L.select("left_key", F.col("left_key").alias("right_key"), dist0)
    else:
        eq = L.join(R, F.col("left_key") == F.col("right_key")).select(
            "left_key", "right_key", dist0
        )

    lp = L.select(
        "left_key",
        F.posexplode(_deletion_variants_pos(F.col("left_key"))).alias("_i", "_v"),
    )
    rp = R.select(
        "right_key",
        F.posexplode(_deletion_variants_pos(F.col("right_key"))).alias("_i", "_v"),
    )
    sub = (
        lp.join(rp, ["_i", "_v"])
        .where(F.col("left_key") != F.col("right_key"))
        .select("left_key", "right_key", dist1)
    )

    ldel = L.select(
        "left_key",
        F.explode(F.array_distinct(_deletion_variants_pos(F.col("left_key")))).alias("_v"),
    )
    deln = ldel.join(R, F.col("_v") == F.col("right_key")).select(
        "left_key", "right_key", dist1
    )
    if self_join:
        # one join, both directions: the mirror class (insertion) is the
        # column swap of the deletion class, and a Project over the same
        # join subtree re-EXECUTES the join in the physical plan —
        # exploding a two-struct array emits (a,b) and (b,a) from the
        # single join output instead (A/B at sf0.1: 1.56 s vs 1.84 s
        # whole-q67)
        deln_both = (
            deln.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("left_key").alias("left_key"),
                            F.col("right_key").alias("right_key"),
                        ),
                        F.struct(
                            F.col("right_key").alias("left_key"),
                            F.col("left_key").alias("right_key"),
                        ),
                    )
                ).alias("p")
            )
            .select("p.*")
            .withColumn("dist", F.lit(1))
        )
        pairs = eq.unionByName(sub).unionByName(deln_both)
    else:
        rdel = R.select(
            "right_key",
            F.explode(
                F.array_distinct(_deletion_variants_pos(F.col("right_key")))
            ).alias("_v"),
        )
        insn = L.join(rdel, F.col("left_key") == F.col("_v")).select(
            "left_key", "right_key", dist1
        )
        pairs = eq.unionByName(sub).unionByName(deln).unionByName(insn)
    if not keep_rows:
        return pairs
    m = pairs.select(
        F.col("left_key").alias("__lkm"),
        F.col("right_key").alias("__rkm"),
        "dist",
    )
    return (
        left.join(m, F.col(left_key).cast("string") == F.col("__lkm"))
        .join(right, F.col("__rkm") == F.col(right_key).cast("string"))
        .drop("__lkm", "__rkm")
    )
