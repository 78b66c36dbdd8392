"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` single-JVM; the configs below are chosen so
the same code runs unchanged on a multi-executor cluster at 100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- Arrow on (vectorized pandas interchange for the few Pandas-UDF operators);
- session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-invariant;
- shuffle partitions sized from the env (local) — on a real cluster AQE
  coalesces from a high initial number, so we set the initial high and let
  AQE shrink rather than hand-tuning per job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sustainable-building-energy-benchmarking-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters are overridable for tests; env vars ``SPARK_GRAFT_CPUS``
    controls local parallelism (default 32 per the driver harness).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- scale-critical: Adaptive Query Execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # SIZE-first coalescing (round-12): with the default
        # parallelismFirst=true AQE targets max(bytes/defaultParallelism,
        # 1 MB) per reduce partition, so every small-to-mid shuffle fans
        # out to ~core-count tiny tasks — pure scheduling overhead at any
        # scale (the quadratic-block regime of shuffles is reached sooner,
        # and a 199-of-200-empty-tasks stage helps nobody). False targets
        # advisoryPartitionSizeInBytes (64 MB default) — the posture the
        # Spark tuning guide recommends (partitions sized in the
        # 100 MB-1 GB range, AQE coalescing from a high initial count).
        # Stages whose cost is per-row CPU rather than bytes (the Python
        # kernel pair stages) pin their own parallelism explicitly —
        # partitioning decisions based on bytes alone are wrong for them
        # in BOTH directions of scale. Measured at sf0.1: window/agg-chain
        # queries −30-70% wall (q96 0.41→0.11 s, q74 1.32→0.49 s,
        # q20 0.92→0.48 s, q59 1.09→0.71 s) with kernel stages pinned.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: high initial, AQE coalesces down ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow for the pandas-UDF operators (dedup/ML/multimodal) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- broadcast dims aggressively (region/nation/supplier-sized) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- parquet: vectorized reader + pushdown are defaults; pin anyway ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # quieter local runs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # scale-dependent overrides (cluster deployments tune shuffle/AQE
    # posture per environment; optimization A/Bs ride the same hook):
    # JSON object of spark conf key → value, applied before extra_conf.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json as _json

        for k, v in _json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Minimal expected column sets per driver testdata table (TESTDATA.md). A
# regenerated testdata drop that renames/drops a column should fail here with
# a named error (one smoke test), not as an AnalysisException in sixty
# consumers mid-query.
EXPECTED_TESTDATA_COLUMNS: dict[str, set[str]] = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_type", "p_retailprice"},
    "orders": {"o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"},
    "lineitem": {
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}

# Loaded-table cache keyed by (spark app id, sf_dir, table, source mtime).
# DataFrames are immutable logical plans, so reuse across queries is safe;
# this removes the repeated footer-read/analysis cost when the driver sweeps
# 90+ registry queries in one session. The mtime in the key invalidates
# naturally when a testdata path is regenerated in-place (several tests
# rewrite derived dirs); the size bound keeps many-sf_dir sessions from
# growing without limit.
_TABLE_CACHE: dict[tuple[str, str, str, float], object] = {}
_TABLE_CACHE_MAX = 256


def clear_table_cache() -> None:
    """Drop all memoized table plans (for tests that rewrite testdata and
    need the new file listing picked up immediately)."""
    _TABLE_CACHE.clear()


# Release-handle registry for queries that persist an intermediate
# (z01/z04's bloom-flagged batch — the single-scan posture documented in
# operators/sketches.bloom_incremental_dedup). The CONTRACT: a registry
# query may persist only through register_query_cache(); a library user
# looping such queries over corpus shards calls clear_query_cache(spark)
# between shards (or relies on spark.catalog.clearCache(), which is a
# superset) and the storage cache returns to its pre-call baseline —
# asserted by tests/test_cache_lifecycle.py. Entries are unpersisted
# lazily and the list never grows past the few frames of one run loop.
_QUERY_CACHES: list = []


def register_query_cache(df) -> None:
    """Record a persisted DataFrame so ``clear_query_cache`` can release
    it deterministically (the cache_out release-handle pattern of
    ``bloom_incremental_dedup``, lifted to the query registry layer)."""
    _QUERY_CACHES.append(df)


def clear_query_cache(spark: SparkSession | None = None) -> int:
    """Unpersist every intermediate registered by a query since the last
    call; returns how many were released. Safe to call at any time —
    released plans recompute from source on the next action (correctness
    is unaffected; only the single-scan cost posture is)."""
    n = 0
    while _QUERY_CACHES:
        df = _QUERY_CACHES.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass  # session already stopped — nothing left to release
    return n


def _path_mtime(path: str) -> float:
    """Best-effort change signal for a parquet file or directory: the
    directory mtime changes when part-files are added/replaced."""
    try:
        return os.path.getmtime(path)
    except OSError:
        return -1.0


def _parquet_has_nanos(path: str) -> bool:
    """Driver-side footer probe: does this parquet carry TIMESTAMP(NANOS)
    columns? Used to gate the session-wide ``nanosAsLong`` conf so loading
    one table never changes how unrelated nanos-free parquet reads."""
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        return any(
            pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            for f in schema
        )
    except Exception:
        # conservative: keep the legacy-read behavior if the probe fails
        return True


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one driver-testdata parquet table with schema quirks handled."""
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    cache_key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        name,
        _path_mtime(path),
    )
    cached = _TABLE_CACHE.get(cache_key)
    if cached is not None:
        return cached
    if name == "events":
        # events.parquet has shipped with several physical layouts for `ts`
        # (TIMESTAMP(NANOS), TIMESTAMP(MICROS), plain TIMESTAMP). Gate the
        # normalization on the *loaded* dtype so all of them resolve to a
        # session-TZ TimestampType:
        #   bigint        — nanos read as long (nanosAsLong); integer DIV 1000
        #                   keeps full precision (a double cast would truncate
        #                   ns-since-epoch beyond 2^53)
        #   timestamp_ntz — micros without TZ; session TZ is UTC, so a plain
        #                   cast matches the DuckDB oracle semantics
        #   timestamp     — already what we want
        # nanosAsLong is an SQLConf with no per-read equivalent, so setting
        # it is unavoidably session-wide; gate it on a driver-side footer
        # probe so it flips ONLY when this file genuinely carries NANOS —
        # loading events never changes how other (nanos-free) parquet reads.
        if (
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
            != "true"
            and _parquet_has_nanos(path)
        ):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_dtype == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    expected = EXPECTED_TESTDATA_COLUMNS.get(name)
    if expected:
        missing = expected - set(df.columns)
        if missing:
            raise ValueError(
                f"testdata schema drift: table '{name}' at {path} is missing "
                f"expected column(s) {sorted(missing)}; loaded columns: "
                f"{df.columns}. Update session.EXPECTED_TESTDATA_COLUMNS and "
                f"the affected queries together."
            )
    if len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
        _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
    _TABLE_CACHE[cache_key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver testdata parquet tables as a dict of DataFrames and
    register each as a temp view (so ``spark.sql`` works symmetrically with
    the DuckDB oracle)."""
    out = {}
    for name in names or EXPECTED_TESTDATA_COLUMNS:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
