"""SparkSession factory + table access helpers.

The driver (``__spark_entry__.py`` contract) hands us an existing
SparkSession for correctness runs, so :func:`tune` applies the runtime-safe
settings (session timezone, AQE, shuffle parallelism) to *any* session,
while :func:`get_spark` builds a fully tuned local session for tests/bench.

Scale notes (100 TB / 1000-executor target):
- ``spark.sql.shuffle.partitions`` is derived from the execution width
  (``$SPARK_GRAFT_CPUS``, falling back to the host core count) rather
  than a local[32] constant, so the driver's lower-core-count scaling
  runs get a proportionate default; at cluster scale AQE coalescing
  makes the static number mostly moot, but production would set it to
  ~2-3x total cores and rely on
  ``spark.sql.adaptive.coalescePartitions.enabled``.
- Timezone is pinned to UTC so timestamp semantics are stable across the
  DuckDB oracle, the JVM, and any real warehouse sink.
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def _session_cache(spark: SparkSession) -> dict:
    """Per-session state stored ON the session object, so it dies with
    the session handle: no global registry keyed on id() (ids get reused
    by new sessions at the same address — a module-level dict could both
    leak stopped sessions and serve a dead session's DataFrames)."""
    cache = getattr(spark, "_alrs_cache", None)
    if cache is None:
        cache = {"tuned": False, "tables": {}}
        spark._alrs_cache = cache
    return cache


def _shuffle_partitions() -> str:
    """Default shuffle parallelism = execution width: $SPARK_GRAFT_CPUS
    when the harness pins the core count (bench.py's contract), the host
    core count otherwise. AQE still coalesces below this; clusters
    override via normal Spark conf."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if cpus.isdigit() and int(cpus) > 0:
        return cpus
    return str(os.cpu_count() or 8)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to a session we did not build."""
    cache = _session_cache(spark)
    if cache["tuned"]:
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # The events fixture carries TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as int64 nanos and convert (see table()).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Fixtures written as naive timestamp[us] would otherwise surface as
    # TIMESTAMP_NTZ, which withWatermark() and numeric casts reject. With
    # the session pinned to UTC, reading them as TIMESTAMP (LTZ) yields
    # byte-identical values to DuckDB's naive interpretation.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        # Local test scale: ~cores. At cluster scale AQE re-coalesces anyway.
        spark.conf.set("spark.sql.shuffle.partitions", _shuffle_partitions())
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass  # static confs on some deployments; never fail a query over tuning
    cache["tuned"] = True
    return spark


def get_spark(app_name: str = "aws-lambda-redshift-loader-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", _shuffle_partitions())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


def defer_unpersist(df: DataFrame) -> DataFrame:
    """Tag a persist()ed frame for release AFTER the caller consumes the
    query's returned DataFrame (which depends on it, so the query
    function itself cannot unpersist before the action runs). Harnesses
    that execute many queries back-to-back (bench.py, the oracle sweep)
    call :func:`release_persisted` between queries; a single-query
    caller that never releases just leaves one LRU-evictable cached
    frame, same as before this hook existed. Deliberately NOT used for
    the cross-query memo caches (dedup pair graph, near-dup ingest
    memo) — those persist across queries by design."""
    _PENDING_UNPERSIST.append(df)
    return df


_PENDING_UNPERSIST: list = []


def release_persisted() -> int:
    """Unpersist every frame tagged by :func:`defer_unpersist`; returns
    the number released. Safe to call any time after the previous
    query's result was collected."""
    n = 0
    while _PENDING_UNPERSIST:
        df = _PENDING_UNPERSIST.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session may be gone; releasing is best-effort
    return n


def run_concurrently(
    spark: SparkSession, thunks: list[Callable[[], _T]], max_workers: int
) -> list[_T]:
    """Run driver-side thunks that each submit Spark jobs on a small
    thread pool; return their results in submission order, re-raising
    the first failure (by submission order) after every thunk ended.

    Each thunk is wrapped on its own with
    ``inheritable_thread_target(spark)``, which clones the caller's
    local properties (job group, scheduler pool, tags) at wrap time.
    Sharing one wrapped function would hand every thread the SAME
    ``Properties`` object, so concurrent writes would overwrite each
    other's ``spark.sql.execution.id``. Inheriting the job group is what
    lets ``cancelJobGroup`` / ``StreamingQuery.stop()`` reach the pool's
    jobs. A single thunk runs inline."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=min(max_workers, len(thunks))) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
        return [f.result() for f in futures]


def normalize_nanos(df: DataFrame) -> DataFrame:
    """Convert int64-nanosecond `ts` (from nanosAsLong) to TimestampType.

    Integer `div 1000` truncates toward zero exactly like DuckDB's
    TIMESTAMP_NS→TIMESTAMP read, so both engines see identical µs values.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Defensive: a session whose NTZ-inference conf we could not
            # flip (tune() failed or ran after the scan) still gets LTZ
            # columns; session tz is UTC so the instant is unchanged.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver-generated parquet tables.

    Parquet scan with Catalyst pushdown — callers `.select()`/`.filter()`
    and the physical scan prunes columns / pushes predicates.

    DataFrame handles are immutable logical plans — safe to memoize. A
    harness that runs 80+ queries back-to-back otherwise pays one parquet
    footer/schema read per table per query; the memo (stored on the
    session, see _session_cache) turns that into one per (sf_dir, table)
    per session. Assumption: a given sf_dir's files are immutable for
    the session's lifetime (the memoized relation pins the file listing).
    """
    tune(spark)
    tables = _session_cache(spark)["tables"]
    key = (sf_dir, name)
    df = tables.get(key)
    if df is None:
        df = normalize_nanos(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        tables[key] = df
    return df


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Expose every fixture table as a temp view so the engine's full
    surface is reachable through plain ``spark.sql`` — the query language
    a reference user ultimately writes against the warehouse. Views are
    lazy: registering costs one schema read per table; plans built from
    them get the same pushdown/pruning as the DataFrame path.
    """
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run an ANSI-SQL query against the registered tables."""
    register_tables(spark, sf_dir)
    return spark.sql(query)
