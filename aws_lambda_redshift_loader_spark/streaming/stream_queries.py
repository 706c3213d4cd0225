"""Structured Streaming queries over the `events` fixture (SURVEY §2.9).

The live counterpart of operators.windows_sql: the same windowed
aggregation expressions run through `readStream` → memory sink, proving
the batch/stream unification (one plan, two execution modes). The
tumbling-window stream shares its DuckDB oracle with the batch query —
complete-mode output over a finite source equals the batch answer.

The ingestion-side streaming machinery (tri-threshold batcher, ledger,
replay) lives in streaming.batcher / .ledger and
pipeline.IngestPipeline.reprocess_batch / .replay_failures.
"""

from __future__ import annotations

import contextlib
import functools
import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import dec
from ..memos import memo
from ..plans.registry import register
from ..session import defer_unpersist, normalize_nanos, run_concurrently, tune

_COUNTER = itertools.count()

# Temp dirs created by the e2e ingest queries (sink warehouse,
# checkpoint, Derby DB). The returned DataFrame reads from these
# LAZILY, so they cannot be removed before the caller collects — a
# mid-session sweep could yank data a still-pending read needs. An
# atexit hook removes every dir at interpreter exit, so repeated
# bench/correctness rounds no longer leak sink data or Derby
# warehouses for the life of the host; within one process the dirs are
# bounded (a handful per e2e invocation, fixture-sized).
_E2E_TMPDIRS: list[str] = []
_E2E_ATEXIT_ARMED = False


def _e2e_tmpdir(prefix: str) -> str:
    import atexit
    import shutil
    import tempfile

    global _E2E_ATEXIT_ARMED

    def _sweep() -> None:
        while _E2E_TMPDIRS:
            shutil.rmtree(_E2E_TMPDIRS.pop(), ignore_errors=True)

    if not _E2E_ATEXIT_ARMED:
        atexit.register(_sweep)
        _E2E_ATEXIT_ARMED = True
    d = tempfile.mkdtemp(prefix=prefix)
    _E2E_TMPDIRS.append(d)
    return d

# Stateful streaming operators allocate one state-store instance (plus,
# for applyInPandasWithState, one Python worker exchange) PER SHUFFLE
# PARTITION per operator — at the fixture's data volume that init cost
# dwarfs the data. State partition count is captured at query start, so
# a scoped override at start() time is enough; results are partition-
# count-independent (aggregation/dedup/join semantics don't change, and
# the stateful batcher sorts within each group). At cluster scale this
# knob should instead match executor parallelism — it is the number of
# state shards, the same sizing decision as spark.sql.shuffle.partitions
# for any other shuffle.
STREAM_STATE_PARTITIONS = 8


@contextlib.contextmanager
def _stream_shuffle(spark: SparkSession):
    """Scope spark.sql.shuffle.partitions down for streaming query
    planning/start, restoring the session value afterwards."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def warm_stream_shapes(spark: SparkSession) -> None:
    """Session-start STREAMING shape warmer (bench/qbench harness only —
    never called from query paths). An isolated A/B at sf0.1 measured a
    4-trigger NO-OP foreachBatch file stream at 7.5 s on its first run
    vs 1.1 s once the microbatch machinery is hot (~0.25 s/trigger),
    i.e. ~6 s of session-one-time class-loading/codegen of the
    MicroBatchExecution + file-source-log + foreachBatch plumbing that
    the bench otherwise bills to whichever STREAMING query runs first
    alphabetically (the r17 head-of-alphabet flagged-rerun class). Same
    policy as bench.py's other shape warmers: trivial frames warm
    generic machinery; memo builds stay billed to the queries that run
    them. Covers the two streaming shapes the registry uses — the
    foreachBatch file-source loop (incremental stores) and the
    complete-mode memory-sink aggregate (_run_stream)."""
    import pandas as _pd  # noqa: F401 — keeps parity with other warmers

    tiny = _e2e_tmpdir("alrs_warm_stream_")
    spark.range(4).repartitionByRange(2, "id").write.mode("overwrite").parquet(tiny)
    schema = spark.read.parquet(tiny).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "part-*")
        .option("maxFilesPerTrigger", 1)
        .parquet(tiny)
    )
    with _stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(lambda df, eid: None)
            .option("checkpointLocation", _e2e_tmpdir("alrs_warm_ckpt_"))
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    agg = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "part-*")
        .parquet(tiny)
        .select(
            F.timestamp_seconds(F.col("id") * 3600).alias("ts"), F.col("id")
        )
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    with _stream_shuffle(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("alrs_warm_stream_result")
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark.catalog.dropTempView("alrs_warm_stream_result")


def _run_stream(
    spark: SparkSession, sf_dir: str, builder, mode: str = "complete"
) -> DataFrame:
    """Run a finite streaming query over events.parquet to completion via a
    memory sink, return the result table. ``mode`` is the output mode:
    "complete" for aggregates that hold a result table, "append" for
    stream-stream joins and other operators that emit incrementally."""
    tune(spark)
    # Raw on-disk schema (ts arrives as int64 nanos under nanosAsLong);
    # normalize_nanos converts it exactly like the batch path.
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The file source wants a directory: point it at sf_dir and glob-filter
    # down to events.parquet (the P2 filename-filter primitive, reused).
    stream = normalize_nanos(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        # maxFilesPerTrigger exercises real micro-batching (T1 analog).
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )
    name = f"stream_result_{next(_COUNTER)}"
    with _stream_shuffle(spark):
        q = (
            builder(stream)
            .writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register(
    "stream_tumbling_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 streaming tumbling windows, for real: readStream → watermarked
    1-hour windows → complete-mode memory sink. Over the finite fixture the
    final state equals the batch tumbling aggregation, so the same oracle
    applies — the strongest check a streaming query can get.

    Scale: this exact query with a kafka/file source and a Delta/JDBC
    `foreachBatch` sink is the production shape; watermark bounds state.
    """

    def agg(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(dec("value")).cast("double").alias("sum_value"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    return _run_stream(spark, sf_dir, agg)


@register(
    "stream_sliding_counts",
    """
    WITH slid AS (
      SELECT date_trunc('hour', ts) AS window_start, value FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, value FROM events
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM slid
    GROUP BY window_start
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 sliding windows streaming (2-hour windows, 1-hour slide): each
    event updates two window states via Spark's Expand; complete-mode
    final state equals the batch expansion, sharing its oracle."""

    def agg(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(dec("value", 18, 4)).cast("double").alias("sum_value"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "n_events",
                "sum_value",
            )
        )

    return _run_stream(spark, sf_dir, agg)


SESSION_GAP_MIN = 30  # shared with operators.windows_sql


@register(
    "stream_session_counts",
    f"""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
      FROM gaps
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 session windows, streaming for real: `F.session_window` with
    merging session state per user_id, complete-mode memory sink. Over
    the finite fixture the final state equals the batch session query, so
    it shares the gaps-and-islands oracle — the streaming state machinery
    (session merge on late-arriving in-gap events) is hash-verified
    against declarative SQL.

    Scale: state is per (user, open session); with a watermark (the
    production form) closed sessions evict, so state ∝ active users, not
    history.
    """

    def agg(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(
                F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id"
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
                "n_events",
            )
        )

    return _run_stream(spark, sf_dir, agg)


BATCH_SIZE = 100  # T1 count threshold (shared with operators.batching_sql)


@register(
    "stream_stateful_batcher",
    f"""
    WITH files AS (
      SELECT event_type AS s3Prefix, event_id AS file_id, ts,
             CAST(floor(value * 100) AS BIGINT) AS size
      FROM events
    ),
    numbered AS (
      SELECT *, row_number() OVER (PARTITION BY s3Prefix
                                   ORDER BY ts ASC, file_id ASC) AS rn
      FROM files
    ),
    assigned AS (
      SELECT s3Prefix,
             CAST(floor((rn - 1) / {BATCH_SIZE}) AS BIGINT) AS batch_seq,
             COUNT(*) AS n_files,
             CAST(SUM(size) AS BIGINT) AS batch_bytes
      FROM numbered
      GROUP BY s3Prefix, CAST(floor((rn - 1) / {BATCH_SIZE}) AS BIGINT)
    )
    SELECT s3Prefix, batch_seq, n_files, batch_bytes
    FROM assigned WHERE n_files = {BATCH_SIZE}
    """,
)
def stream_stateful_batcher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-T4 as a *distributed* stateful streaming operator: per-prefix
    open-batch state (seq, pending count, pending bytes) lives in Spark's
    state store via `applyInPandasWithState`; a batch row is emitted the
    moment the count threshold fills, exactly like the reference's
    lock-on-threshold (processPendingBatch, index.js:602-813) — but
    sharded across executors by prefix instead of serialized through
    DynamoDB CAS. This is the scale path for streaming.batcher's
    driver-side control loop: 10M prefixes = 10M state rows, no driver
    involvement.

    Oracle: closed batches equal the backfill count-trigger assignment
    restricted to full batches (the still-open tail never emits). Rows
    are sorted by (ts, file_id) inside each group before folding, so the
    assignment is deterministic at any partitioning.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("s3Prefix", T.StringType()),
            T.StructField("batch_seq", T.LongType()),
            T.StructField("n_files", T.LongType()),
            T.StructField("batch_bytes", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("seq", T.LongType()),
            T.StructField("pending_n", T.LongType()),
            T.StructField("pending_bytes", T.LongType()),
        ]
    )

    def fold(key: tuple, pdfs, state: GroupState):
        seq, pending_n, pending_bytes = state.get if state.exists else (0, 0, 0)
        closed: list[tuple] = []
        rows = pd.concat(list(pdfs))
        # Deterministic arrival order regardless of shuffle partitioning.
        rows = rows.sort_values(["ts", "file_id"])
        for size in rows["size"]:
            pending_n += 1
            pending_bytes += int(size)
            if pending_n >= BATCH_SIZE:  # T1 flush = lock + rotate (T4/T5)
                closed.append((key[0], seq, pending_n, pending_bytes))
                seq, pending_n, pending_bytes = seq + 1, 0, 0
        state.update((seq, pending_n, pending_bytes))
        yield pd.DataFrame(closed, columns=["s3Prefix", "batch_seq", "n_files", "batch_bytes"])

    def batches(stream: DataFrame) -> DataFrame:
        files = stream.select(
            F.col("event_type").alias("s3Prefix"),
            F.col("event_id").alias("file_id"),
            F.col("ts"),
            F.floor(F.col("value") * 100).cast("bigint").alias("size"),
        )
        return files.groupBy("s3Prefix").applyInPandasWithState(
            fold, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )

    return _run_stream(spark, sf_dir, batches, "append")


@register(
    "stream_dedup_dropduplicates",
    """
    SELECT event_type, COUNT(DISTINCT event_id) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_dropduplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 file-level dedup as a streaming state op: `dropDuplicates` on the
    event id with a watermark bounding state — the exactly-once ingest gate
    the reference implements with the DynamoDB ledger (index.js:247-306).
    Result: per-type counts after streaming dedup.

    Oracle note: batch COUNT(DISTINCT event_id) per type equals the
    streamed result whenever each event_id carries one event_type (true
    here — ids are unique — and of any sane event stream). If an id
    arrived under two types, the streaming op would keep the
    first-arrival row and the comparison would be order-dependent; that
    is the one semantic the batch form cannot express."""

    def agg(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicates(["event_id"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"))
        )

    return _run_stream(spark, sf_dir, agg)


FUNNEL_JOIN_WINDOW_MIN = 30


@register(
    "stream_funnel_join",
    f"""
    SELECT a.user_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM events a
    JOIN events b
      ON b.user_id = a.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL {FUNNEL_JOIN_WINDOW_MIN} MINUTE
    """,
)
def stream_funnel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join — the Structured Streaming operator
    family the windowed queries don't exercise: view events join
    purchase events of the same user within {FUNNEL_JOIN_WINDOW_MIN}
    minutes, both sides watermarked so the join state is bounded (a view
    can be dropped from state once no in-window purchase can still
    arrive). Inner joins emit eagerly, so over the finite fixture the
    append-mode result equals the batch time-range self-join and shares
    its oracle — the state machinery is hash-verified.

    Scale: state per side ∝ events inside the watermark horizon, keyed
    and co-partitioned on user_id; the time-range predicate is what
    lets Spark evict (no watermark + range bound = unbounded state)."""

    def agg(stream: DataFrame) -> DataFrame:
        views = (
            stream.filter(F.col("event_type") == "view")
            .select("user_id", F.col("ts").alias("view_ts"))
            .withWatermark("view_ts", "1 hour")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
            .withWatermark("purchase_ts", "1 hour")
        )
        return (
            views.join(
                purchases,
                (F.col("p_user_id") == F.col("user_id"))
                & (F.col("purchase_ts") >= F.col("view_ts"))
                & (
                    F.col("purchase_ts")
                    <= F.col("view_ts") + F.expr(f"INTERVAL {FUNNEL_JOIN_WINDOW_MIN} MINUTES")
                ),
            )
            .select(
                "user_id",
                F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
                F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            )
        )

    return _run_stream(spark, sf_dir, agg, "append")


@register(
    "stream_dedup_within_watermark",
    """
    SELECT event_type, COUNT(DISTINCT event_id) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 dedup in its state-BOUNDED production form:
    `dropDuplicatesWithinWatermark` (Spark 3.5+) evicts a key's dedup
    state once the watermark passes its event time + delay — unlike
    plain dropDuplicates-with-watermark, whose state for keys without
    event-time columns grows forever. This is the variant a 24/7 ingest
    pipeline actually runs; same oracle as the unbounded form (ids are
    unique per type in the fixture, so the kept-row set is identical).
    """

    def agg(stream: DataFrame) -> DataFrame:
        deduped = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        return deduped.groupBy("event_type").agg(F.count("*").alias("n_events"))

    return _run_stream(spark, sf_dir, agg)


# Static dimension for the stream-static join (inline by design: the
# point is the JOIN SHAPE — broadcast of a static side under a streaming
# scan — not the dimension's provenance).
EVENT_CATEGORIES = {
    "view": "engagement",
    "click": "engagement",
    "purchase": "revenue",
    "signup": "growth",
    "error": "reliability",
}


@register(
    "stream_static_enrich",
    f"""
    WITH dim(event_type, category) AS (VALUES
      {", ".join(f"('{k}', '{v}')" for k, v in sorted(EVENT_CATEGORIES.items()))}
    )
    SELECT d.category, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY d.category
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join — the third streaming join family next to the
    windowed aggregations and the stream-stream funnel join: a streaming
    scan enriched against a static dimension (event_type → category),
    then aggregated per category. Spark broadcasts the static side into
    every micro-batch; no state is kept for the join itself (only the
    complete-mode aggregate), which is why stream-static is the cheapest
    enrichment shape and the first choice before a stream-stream join.

    Shares the batch join+aggregate oracle over the finite fixture."""

    def agg(stream: DataFrame) -> DataFrame:
        spark = stream.sparkSession
        dim = spark.createDataFrame(
            sorted(EVENT_CATEGORIES.items()), "event_type STRING, category STRING"
        )
        return (
            stream.join(F.broadcast(dim), "event_type")
            .groupBy("category")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(dec("value")).cast("double").alias("sum_value"),
            )
        )

    return _run_stream(spark, sf_dir, agg)


@register(
    "stream_ingest_e2e",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE main path (§3.1) as one hash-gated query:
    readStream file source (replaces S3 events) → foreachBatch →
    `write_to_sink` transactional path sink with per-epoch idempotent
    partitions (replaces manifest+COPY, reference loadCluster
    index.js:1077-1321) → read the warehouse table back → aggregate.
    The oracle is the plain batch aggregation over the source, so the
    hash check proves END-TO-END exactly-once delivery through the real
    sink code path: a lost file, a double-loaded epoch, or a corrupted
    row would all change the loaded counts/sums and fail the gate.
    The pipeline test suite drives the same machinery with golden
    outcomes; this registers it where the driver's correctness harness
    exercises it every round.

    Scale: this IS the production ingest shape — the file source scales
    by split planning, foreachBatch writes epoch partitions in parallel
    (executors write; the driver only coordinates), and replay
    idempotence comes from epoch-partition overwrite, not a ledger scan.
    """
    from .sinks import write_to_sink
    from ..sources.routing import ClusterSink

    tune(spark)
    sink_dir = _e2e_tmpdir("alrs_e2e_sink_")
    sink = ClusterSink(target_table="events_loaded", path=sink_dir)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_nanos(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )

    def load(df: DataFrame, epoch_id: int) -> None:
        res = write_to_sink(df, sink, epoch_id=epoch_id)
        if res.status != "loaded":  # surface the sink error to the stream
            raise RuntimeError(f"sink failed: {res.error}")

    with _stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(load)
            .option("checkpointLocation", _e2e_tmpdir("alrs_e2e_ckpt_"))
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    loaded = spark.read.parquet(f"{sink_dir}/events_loaded")
    return loaded.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )


E2E_JDBC_MOD = 20  # event_id % this == 0 → the subset loaded to Derby


@register(
    "stream_ingest_jdbc_e2e",
    f"""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events WHERE event_id % {E2E_JDBC_MOD} = 0
    GROUP BY event_type
    """,
)
def stream_ingest_jdbc_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.1 main path against a REAL JDBC warehouse (embedded Derby
    — its driver ships inside pyspark): readStream → foreachBatch →
    `write_to_sink` JDBC path, whose exactly-once mechanism is the
    EPOCH LEDGER committed in the same transaction as the data
    (reference batch-status CAS, index.js:693-757) — the second of the
    two idempotence designs, complementing stream_ingest_e2e's
    epoch-partition overwrite. The loaded table is read back over the
    same wire and aggregated; the batch oracle over the source subset
    hash-gates the whole path, so a double-committed epoch or a lost
    row fails the driver's value hash.

    The deterministic event_id % {E2E_JDBC_MOD} subset keeps the
    embedded single-JVM warehouse write proportionate in a bench run;
    the plumbing (staging append, single-transaction swap, ledger
    check) is volume-independent. Scale: against a real MPP warehouse
    the staging append is the parallel COPY analog — every executor
    writes; the driver runs one transaction."""
    from .sinks import write_to_sink
    from ..sources.routing import ClusterSink

    tune(spark)
    wh = _e2e_tmpdir("alrs_e2e_derby_")
    spark.sparkContext._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", f"{wh}/derby.log"
    )
    sink = ClusterSink(
        target_table="events_loaded_jdbc", jdbc_url=f"jdbc:derby:{wh}/wh;create=true"
    )
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_nanos(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    ).filter(F.col("event_id") % E2E_JDBC_MOD == 0).select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )

    def load(df: DataFrame, epoch_id: int) -> None:
        res = write_to_sink(df, sink, epoch_id=epoch_id)
        if res.status != "loaded":
            raise RuntimeError(f"sink failed: {res.error}")

    with _stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(load)
            .option("checkpointLocation", _e2e_tmpdir("alrs_e2e_jckpt_"))
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    loaded = (
        spark.read.format("jdbc")
        .options(url=sink.jdbc_url, dbtable=sink.target_table)
        .load()
    )
    return loaded.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )


# ---- Incremental near-dup pair-graph maintenance ------------------------
# The marriage of the reference's micro-batch heart (§2.9: S3 arrivals →
# batches → transactional loads) and the dedup surface: instead of
# re-running the whole MinHash-LSH pipeline when documents arrive, each
# micro-batch (1) bands only the NEW documents, (2) appends their band
# rows to a persistent signature store, (3) joins new-vs-store for
# candidates (new-new pairs included — the store already holds this
# epoch's rows), and (4) exact-verifies and appends the new pairs. Pair
# disjointness across epochs is structural: every candidate involves at
# least one doc from the current batch, so a pair is discovered exactly
# once — in the epoch its LATER doc arrives. The final pair set therefore
# EQUALS the batch recompute, which is the oracle (the same
# _PAIRS_ORACLE_CTES that hash-gates minhash_lsh_pairs).
INC_NEARDUP_EPOCHS = 4
# Band-store layout: each epoch segment carries a deterministic hash
# bucket of band_key (`bkt`) and is written SORTED by it with small
# parquet row groups, so the per-epoch candidate probe PRUNES AT THE
# SOURCE — the batch's bucket set becomes an `isin` data-source filter
# and the parquet reader skips row groups/pages whose bkt min/max miss
# it (zone maps, the same trick the Z-order query audits) — instead of
# scanning the whole accumulated store, which was the round-8 verdict's
# one scale-killer-shaped plan. A candidate pair needs band_key
# equality, hence bucket equality, so the pruning is lossless. Probe
# I/O is therefore O(batch-keys x bucket-size), independent of total
# store growth at constant bucket size; scale_bench --probe measures
# it. Alternatives measured and rejected at sf0.1: directory
# partitioning by bkt (+1.4 s/epoch dynamic-partition commit overhead),
# a separate distinct-collect job for the bucket set (+1.1 s/epoch), a
# DPP-based probe (re-executes the whole candidate plan as the pruning
# subquery). The shipped shape pays neither: the bucket set rides an
# Observation on the segment write (no extra job), and the sort is
# within existing partitions (no extra shuffle). Bucket count trades
# pruning granularity against per-epoch planning cost (the isin INSET
# appears in several plan copies; 1024 buckets measured +0.6 s/epoch of
# Catalyst time at sf0.1, where the whole store is smaller than one
# production row group). Production raises it toward corpus_rows /
# rows_per_row_group; scale_bench --probe overrides it per fixture.
INC_STORE_BKTS = 64  # bkt = hash(band_key) % this (zone-map granularity)
INC_STORE_BLOCK = 1 << 20  # 1 MiB row groups: pruning granularity for probes


def _store_bkt() -> "F.Column":
    return F.pmod(F.xxhash64("band_key"), F.lit(INC_STORE_BKTS)).cast("int")


def _compact_signature_store(
    spark: SparkSession,
    store: str,
    out: str,
    n_bkt: int,
    data_cols: list[str],
    bkt_hash: "F.Column",
    wrap=None,
) -> None:
    """Segment compaction for a signature store: merge every epoch
    segment into ONE re-bucketed, bkt-sorted segment written as
    ``out/epoch=0`` with ``n_bkt`` buckets. This is where the
    bucket-count growth policy the layout comments promise actually
    happens — production holds rows-per-bucket ~constant by
    re-bucketing as the corpus grows, exactly like search-engine
    segment merges. After compaction the caller must probe with
    INC_STORE_BKTS = n_bkt (the bucket function is the layout
    parameter) and must not replay pre-compaction epochs into the
    compacted store (compaction runs above the ingest checkpoint's
    committed offset — the standard segment-merge contract; replaying a
    merged epoch would duplicate its rows). Probe results are
    unchanged: bucket membership is a pure function of the probe key,
    so candidate pairs survive re-bucketing bit-for-bit (test-locked
    for all three signature stores). ``wrap`` marks a fused kind-tagged
    store (SimHash/cosine): only its band rows (kind=0) are merged —
    the pair deltas already delivered stay in their original epoch
    dirs — and the compacted segment is re-emitted through the same
    kind-0 wrapper so both stores stay union-readable."""
    rows = spark.read.parquet(store)
    if wrap is not None:
        rows = rows.filter(F.col("kind") == 0)
    rows = rows.select(*data_cols).withColumn(
        "bkt", F.pmod(bkt_hash, F.lit(n_bkt)).cast("int")
    )
    if wrap is not None:
        rows = wrap(rows)
    rows.repartition("bkt").sortWithinPartitions("bkt").write.option(
        "parquet.block.size", INC_STORE_BLOCK
    ).mode("overwrite").parquet(f"{out}/epoch=0")


def compact_neardup_store(
    spark: SparkSession, store: str, out: str, n_bkt: int
) -> None:
    """MinHash band-store compaction (see _compact_signature_store)."""
    _compact_signature_store(
        spark, store, out, n_bkt,
        ["doc_id", "band", "band_key"], F.xxhash64("band_key"),
    )


def compact_simhash_store(
    spark: SparkSession, store: str, out: str, n_bkt: int
) -> None:
    """SimHash Hamming-band store compaction (see
    _compact_signature_store); rows carry the full signature, so the
    compacted segment keeps verification probe-fused. The store is the
    fused kind-tagged layout: band rows merge, delivered pair deltas
    stay put."""
    _compact_signature_store(
        spark, store, out, n_bkt,
        ["doc_id", "simhash", "band", "band_val"], F.xxhash64("band", "band_val"),
        wrap=_sim_kind0,
    )


def compact_cosine_store(
    spark: SparkSession, store: str, out: str, n_bkt: int
) -> None:
    """Cosine bucket-row store compaction (see
    _compact_signature_store); rows carry the quantized vectors, so
    GEMM verification stays store-local after the merge. LSH geometry
    (the signature width) is NOT changed here — re-deriving it for a
    grown corpus means re-stamping signatures, a rebuild rather than a
    re-bucket, as in any deployed LSH index. Fused kind-tagged layout:
    bucket rows merge, delivered pair deltas stay put."""
    _compact_signature_store(
        spark, store, out, n_bkt,
        ["vec_id", "e", "bucket"], F.xxhash64("bucket"),
        wrap=_cos_kind0,
    )


# Bucket by node MODULO (not a hash): doc ids are dense serials so the
# modulo balances, and the driver fast path below must compute the same
# bucket in Python to build the pruning literals without an extra job.
def _labels_bkt() -> "F.Column":
    return F.pmod(F.col("node"), F.lit(INC_STORE_BKTS)).cast("int")


# Above this many delta pairs, ingest_cc_epoch routes through the
# DataFrame path (_ingest_cc_epoch_frames) whose label-graph CC carries
# connected_components' own gate — mirroring dedup.CC_LOCAL_EDGE_MAX:
# the collect is bounded BY THE GATE, and the distributed path stays
# exercised via the env override (tests force it).
import os as _os_cc

INC_CC_LOCAL_MAX = int(_os_cc.environ.get("ALRS_INC_CC_LOCAL_MAX", 1_000_000))


def _read_store_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read an epoch-partitioned store that may not exist yet (epoch 0
    of an incremental query); a missing/empty dir is an empty frame with
    the declared schema (epoch column included). Checked up front rather
    than caught — Spark's listener bus logs caught AnalysisExceptions at
    ERROR, which would spam every first-epoch ingest."""
    import os as _os

    if not _os.path.isdir(path) or not any(
        name.startswith("epoch=") for name in _os.listdir(path)
    ):
        return spark.createDataFrame([], schema + ", epoch int")
    return spark.read.parquet(path)


# The CC state is ONE kind-tagged store (round-10 lead: one write job
# per epoch instead of separate label + remap stores):
#   kind=0 label row  (node, cluster_id), written once per node
#   kind=1 remap row  (node=old_label, cluster_id=new_label), flat
# Segments are (kind, bkt)-sorted with small row groups, so the pruned
# label read skips remap row groups on kind stats and non-matching
# label row groups on bkt zone maps, while the merge-event-sized remap
# rows read in full — both sides of the state in one scan.
CC_STORE_SCHEMA = "kind int, node bigint, cluster_id bigint, bkt int"


def _resolved_remap(spark: SparkSession, cc_dir: str, before_epoch: int) -> DataFrame:
    """(old_label, new_label): the store's remap rows (kind=1) resolved
    to their latest row per key among epochs < before_epoch. Remap rows
    are FLAT by construction (every epoch re-points keys whose target
    merged, see ingest_cc_epoch), so one lookup fully resolves any
    stored label. Merge-event-sized — orders below the pair store."""
    return (
        _read_store_or_empty(spark, cc_dir, CC_STORE_SCHEMA)
        .filter((F.col("kind") == 1) & (F.col("epoch") < before_epoch))
        .groupBy(F.col("node").alias("old_label"))
        .agg(F.max_by("cluster_id", "epoch").alias("new_label"))
    )


def ingest_cc_epoch(
    spark: SparkSession,
    epoch_id: int,
    pairs_dir: str,
    cc_dir: str,
    delta_rows: "list[tuple[int, int]] | None" = None,
) -> None:
    """Warm-start incremental connected components over one epoch's pair
    delta — see _ingest_cc_epoch_frames for the full design note. When
    the caller already holds the delta (the shared ingest observes it on
    the pair write), ``delta_rows`` skips the delta read job. This
    wrapper is the size gate: a near-dup pair DELTA at threshold-grade
    similarity is tiny (hundreds of pairs per epoch at sf0.1), and the
    per-epoch cost of the DataFrame path is dominated by fixed job
    overhead, so below INC_CC_LOCAL_MAX the whole epoch runs
    driver-side: ONE bounded collect of the delta, ONE bounded collect
    of prior state (bucket-and-node-pruned label rows + the flat remap,
    a single scan of the kind-tagged store), a Python min-root
    union-find, and ONE tiny epoch-partition write carrying both the
    new label rows and the remap delta. Above the gate — or with
    ALRS_INC_CC_LOCAL_MAX=0 (tests force it) — the DataFrame path runs
    with connected_components' own distributed loop. Both paths write
    identical store contents (equivalence is test-locked)."""
    if delta_rows is not None and INC_CC_LOCAL_MAX > 0:
        rows = list(delta_rows)
    elif INC_CC_LOCAL_MAX > 0:
        rows = (
            spark.read.parquet(f"{pairs_dir}/epoch={epoch_id}")
            .select("doc_a", "doc_b")
            .limit(INC_CC_LOCAL_MAX + 1)
            .collect()
        )
    else:
        rows = None
    if rows is None or len(rows) > INC_CC_LOCAL_MAX:
        _ingest_cc_epoch_frames(spark, epoch_id, pairs_dir, cc_dir)
        return
    if not rows:
        return  # no pairs this epoch: nothing to store, nothing to merge
    edges = [(r[0], r[1]) for r in rows]
    eps = sorted({n for e in edges for n in e})
    bkts = sorted({n % INC_STORE_BKTS for n in eps})
    # One job for all prior state: pruned label rows (kind 0, zone-map
    # skipped to the delta's buckets) + raw remap rows (kind 1,
    # latest-per-key resolved in Python) — one scan of the one store.
    # Skipped entirely on a virgin store (epoch 0) — no job at all.
    import os as _osp

    def _has_epochs(d: str) -> bool:
        return _osp.path.isdir(d) and any(
            x.startswith("epoch=") for x in _osp.listdir(d)
        )

    state = [] if not _has_epochs(cc_dir) else (
        _read_store_or_empty(spark, cc_dir, CC_STORE_SCHEMA)
        .filter(
            (F.col("epoch") < epoch_id)
            & (
                (
                    (F.col("kind") == 0)
                    & F.col("bkt").isin(bkts)
                    & F.col("node").isin(eps)
                )
                | (F.col("kind") == 1)
            )
        )
        .select(
            F.col("node").alias("k"),
            F.col("cluster_id").alias("v"),
            F.col("epoch").cast("int").alias("e"),
            "kind",
        )
        .collect()
    )
    stored = {r["k"]: r["v"] for r in state if r["kind"] == 0}
    remap: dict[int, tuple[int, int]] = {}
    for r in state:
        if r["kind"] == 1 and (r["k"] not in remap or r["e"] > remap[r["k"]][0]):
            remap[r["k"]] = (r["e"], r["v"])

    def base(n: int) -> int:
        s = stored.get(n)
        if s is None:
            return n
        return remap[s][1] if s in remap else s

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        la, lb = base(a), base(b)
        for l in (la, lb):
            if l not in parent:
                parent[l] = l
        ra, rb = find(la), find(lb)
        if ra != rb:  # min-root: labels stay min-reachable-ids
            parent[max(ra, rb)] = min(ra, rb)

    new_rows = sorted(
        (n % INC_STORE_BKTS, n, find(base(n)))
        for n in eps
        if n not in stored
    )
    rm: dict[int, int] = {}
    for n in eps:
        if n in stored:
            b_ = base(n)
            f = find(b_)
            if f != b_:
                rm[b_] = f
    for k, (_e, v) in remap.items():
        if v in parent:
            f = find(v)
            if f != v:
                rm[k] = f
    out = [(0, n, c, bk) for bk, n, c in new_rows] + [
        (1, k, v, k % INC_STORE_BKTS) for k, v in sorted(rm.items())
    ]
    if out:
        import pandas as _pd

        # ONE write job for the whole epoch delta (labels + remap,
        # kind-tagged; rows already (kind, bkt)-ordered). Arrow path on
        # purpose: createDataFrame(python list) + coalesce(1) makes ONE
        # task evaluate every parent Python partition sequentially
        # (~5s for 200 rows, measured); the pandas/Arrow frame is a
        # single JVM-side partition (~0.1s).
        spark.createDataFrame(
            _pd.DataFrame(
                out, columns=["kind", "node", "cluster_id", "bkt"]
            ).astype(
                {
                    "kind": "int32",
                    "node": "int64",
                    "cluster_id": "int64",
                    "bkt": "int32",
                }
            ),
            CC_STORE_SCHEMA,
        ).coalesce(1).write.option(
            "parquet.block.size", INC_STORE_BLOCK
        ).mode("overwrite").parquet(f"{cc_dir}/epoch={epoch_id}")


def _ingest_cc_epoch_frames(
    spark: SparkSession,
    epoch_id: int,
    pairs_dir: str,
    cc_dir: str,
) -> None:
    """Warm-start incremental connected components over one epoch's pair
    delta (round-9 verdict item 2 — the last batch recompute inside the
    incremental family): instead of re-running CC over the accumulated
    pair store at read time, each epoch CONTRACTS the previous labels
    (a valid fixpoint for all earlier edges) and runs CC only on the
    delta-projected label graph, whose size is O(delta edges), never
    O(store). State is ONE kind-tagged epoch-partitioned store
    (CC_STORE_SCHEMA — one write job per epoch):

    - kind=0 label rows: (node, cluster_id) — written ONCE per node, at
      the epoch the node first appears in a pair, with the label final
      AS OF that epoch; node-bucketed (bkt = node % {INC_STORE_BKTS},
      (kind, bkt)-sorted, small row groups) so the per-epoch endpoint
      lookup prunes to the delta's own buckets exactly like the
      band-store probe.
    - kind=1 remap rows: (old_label, new_label) — one row per label
      whose component merged, kept FLAT: when a remap target itself
      merges, every key pointing at it is re-emitted at the merging
      epoch, so read-time resolution is a single lookup (no chain
      walking). Merge-event-sized.

    Correctness is the standard union-find contraction argument: CC over
    (contracted previous components + delta edges) equals CC over the
    full accumulated edge set; labels are min-reachable-ids throughout
    because new nodes enter the label graph as their own ids and
    connected_components takes the min label. Every write is an
    epoch-partition overwrite reading only epochs < this one, so replay
    after later commits reproduces the original outputs (test-locked).

    Scale: endpoint resolution is a bucket-pruned broadcast probe
    (O(delta keys x bucket size) I/O); the label-graph CC goes through
    connected_components' size gate (driver union-find when tiny, the
    Pregel loop when not); writes are O(newly-paired nodes) +
    O(merge events). Nothing rescans the accumulated pair store."""
    from ..operators.dedup import connected_components

    delta = spark.read.parquet(f"{pairs_dir}/epoch={epoch_id}").select(
        "doc_a", "doc_b"
    )
    eps = (
        delta.select(F.col("doc_a").alias("node"))
        .unionByName(delta.select(F.col("doc_b").alias("node")))
        .distinct()
        .withColumn("bkt", _labels_bkt())
    )
    ep_bkts = [
        r["b"] for r in eps.select(F.col("bkt").alias("b")).distinct().collect()
    ]
    stored = (
        _read_store_or_empty(spark, cc_dir, CC_STORE_SCHEMA)
        .filter(
            (F.col("kind") == 0)
            & (F.col("epoch") < epoch_id)
            & F.col("bkt").isin(ep_bkts)
        )
        .select("node", "cluster_id")
    )
    # Prune the store to the delta's endpoints FIRST (broadcast semi —
    # the store side is never shuffled), then all remaining joins are
    # delta-sized.
    pruned = stored.join(F.broadcast(eps.select("node")), "node", "left_semi")
    remap = _resolved_remap(spark, cc_dir, epoch_id)
    resolved = (
        eps.select("node")
        .join(pruned.hint("broadcast"), "node", "left")
        .join(
            F.broadcast(remap),
            F.col("cluster_id") == F.col("old_label"),
            "left",
        )
        .select(
            "node",
            F.col("cluster_id").isNotNull().alias("is_stored"),
            F.coalesce("new_label", "cluster_id", "node").alias("base"),
        )
    )
    ledges = (
        delta.join(
            F.broadcast(resolved.select(F.col("node").alias("doc_a"), F.col("base").alias("la"))),
            "doc_a",
        )
        .join(
            F.broadcast(resolved.select(F.col("node").alias("doc_b"), F.col("base").alias("lb"))),
            "doc_b",
        )
        .select("la", "lb")
    )
    cc = connected_components(spark, ledges, "la", "lb").select(
        F.col("node").alias("lbl"), F.col("cluster_id").alias("final")
    )
    # Newly-paired nodes: one labels row each, final as of THIS epoch.
    new_rows = (
        resolved.filter(~F.col("is_stored"))
        .join(F.broadcast(cc), F.col("base") == F.col("lbl"), "left")
        .select(
            F.lit(0).alias("kind"),
            "node",
            F.coalesce("final", "base").cast("bigint").alias("cluster_id"),
        )
        .withColumn("bkt", _labels_bkt())
    )
    # Remap delta: (a) current labels of touched OLD components that
    # merged; (b) re-point existing keys whose target merged (keeps the
    # store flat).
    rm_a = (
        resolved.filter(F.col("is_stored"))
        .select("base")
        .distinct()
        .join(F.broadcast(cc), F.col("base") == F.col("lbl"))
        .filter(F.col("final") != F.col("base"))
        .select(
            F.col("base").alias("old_label"), F.col("final").alias("new_label")
        )
    )
    rm_b = (
        remap.join(F.broadcast(cc), F.col("new_label") == F.col("lbl"))
        .filter(F.col("final") != F.col("new_label"))
        .select("old_label", F.col("final").alias("new_label"))
    )
    rm_rows = (
        rm_a.unionByName(rm_b)
        .distinct()
        .select(
            F.lit(1).alias("kind"),
            F.col("old_label").alias("node"),
            F.col("new_label").alias("cluster_id"),
            F.pmod(F.col("old_label"), F.lit(INC_STORE_BKTS))
            .cast("int")
            .alias("bkt"),
        )
    )
    # ONE kind-tagged write for the whole epoch delta (labels + remap).
    new_rows.unionByName(rm_rows).repartition(1).sortWithinPartitions(
        "kind", "bkt"
    ).write.option("parquet.block.size", INC_STORE_BLOCK).mode(
        "overwrite"
    ).parquet(f"{cc_dir}/epoch={epoch_id}")


def resolve_incremental_labels(spark: SparkSession, cc_dir: str) -> DataFrame:
    """(doc_id, cluster_id): the kind-tagged CC store resolved — label
    rows (kind=0, written once each) re-pointed through the flat remap
    (kind=1). This is the read side of ingest_cc_epoch: no CC runs
    here, so the standing query's read cost is one store scan + a
    broadcast of the merge-event-sized remap."""
    store = _read_store_or_empty(spark, cc_dir, CC_STORE_SCHEMA)
    labels = store.filter(F.col("kind") == 0)
    remap = (
        store.filter(F.col("kind") == 1)
        .groupBy(F.col("node").alias("old_label"))
        .agg(F.max_by("cluster_id", "epoch").alias("new_label"))
    )
    return (
        labels.join(
            F.broadcast(remap),
            labels["cluster_id"] == remap["old_label"],
            "left",
        )
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("new_label", labels["cluster_id"])
            .cast("bigint")
            .alias("cluster_id"),
        )
    )


INC_CC_COMPACT_AT = 2  # snapshot the label store when this epoch arrives


def compact_cc_store(spark: SparkSession, cc_dir: str, out_dir: str) -> None:
    """CC-store compaction: materialize the RESOLVED labels (every node
    re-pointed through the flat remap) as a single (kind, bkt)-sorted
    snapshot segment ``out_dir/epoch=0``. After compaction the stream
    continues against the fresh store — pre-compaction merges are baked
    into the snapshot (it holds only kind=0 rows), so stale remap
    entries cannot apply (their keys no longer appear as stored
    labels). Same contract as the signature-store compactions: runs
    above the checkpoint's committed offset, input epochs are frozen
    once committed, so re-running the merge on a replay rewrites
    identical content."""
    (
        resolve_incremental_labels(spark, cc_dir)
        .select(
            F.lit(0).alias("kind"),
            F.col("doc_id").alias("node"),
            "cluster_id",
            F.pmod(F.col("doc_id"), F.lit(INC_STORE_BKTS)).cast("int").alias("bkt"),
        )
        .repartition(1)
        .sortWithinPartitions("kind", "bkt")
        .write.option("parquet.block.size", INC_STORE_BLOCK)
        .mode("overwrite")
        .parquet(f"{out_dir}/epoch=0")
    )


def cc_epoch_with_compaction(
    spark: SparkSession,
    epoch_id: int,
    pairs_dir: str,
    cc_dir: str,
    cc2_dir: str,
    delta_rows=None,
) -> None:
    """Epoch router for the warm-start CC store, exercising label-store
    compaction INSIDE the standing loop (the simhash_epoch_with_compaction
    pattern): epochs before {INC_CC_COMPACT_AT} maintain the original
    store; when epoch {INC_CC_COMPACT_AT} arrives the resolved labels
    are snapshotted into ``cc2_dir`` and that epoch plus every later
    one maintains the compacted store. Routing is a pure function of
    epoch_id and the compaction input is frozen once its epochs commit
    — replay-idempotent on both sides of the compaction point
    (test-locked). Consumers read the post-compaction store: every
    pre-compaction node is in the snapshot."""
    import os as _osr

    if epoch_id < INC_CC_COMPACT_AT:
        ingest_cc_epoch(spark, epoch_id, pairs_dir, cc_dir, delta_rows=delta_rows)
        return
    if epoch_id == INC_CC_COMPACT_AT or not _osr.path.isdir(f"{cc2_dir}/epoch=0"):
        compact_cc_store(spark, cc_dir, cc2_dir)
    ingest_cc_epoch(spark, epoch_id, pairs_dir, cc2_dir, delta_rows=delta_rows)


def ingest_neardup_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    docs_wh: str,
    store: str,
    pairs_dir: str,
) -> None:
    """One near-dup ingest epoch (the foreachBatch body, module-level so
    the replay-idempotence contract is directly testable): every write is
    an OVERWRITE of this epoch's partition, so replaying an epoch —
    including after later epochs have committed — reproduces exactly its
    original outputs. This is the dedup-side analog of the reference's
    per-batch load transaction (loadCluster, index.js:1077-1321) with
    epoch-partition overwrite standing in for the batch-status CAS
    (index.js:693-757) as the exactly-once mechanism. foreachBatch runs
    driver-side, so there is no pickling constraint here (unlike
    mapInPandas closures).

    I/O discipline (round-8 verdict item 1): the band-store probe prunes
    at the source — the store segments are bkt-sorted with small row
    groups and the probe carries the batch's bucket set as a pushed
    `isin` filter (see the INC_STORE_BKTS block comment), and the probe
    join broadcasts the O(batch) new-bands side, so the store side is
    never shuffled. The bucket set rides an Observation on the segment
    write itself — no extra job, and it is bounded by the LAYOUT (at
    most INC_STORE_BKTS ints), not the data. Per-epoch probe cost is
    therefore O(batch keys x bucket size) I/O + O(batch) compute,
    independent of total corpus growth at constant bucket size
    (scale_bench --probe measures it)."""
    from pyspark.sql import Observation

    from ..operators.dedup import _band_rows, _verify_candidates

    # (1) arrived-docs warehouse (verification source of truth); read
    # back so the several downstream uses share one clean file lineage
    # instead of re-evaluating the streaming batch source (persisting
    # the batch and its bands instead was measured SLOWER at sf0.1:
    # cache materialization costs more than these small re-reads).
    batch_df.write.mode("overwrite").parquet(f"{docs_wh}/epoch={epoch_id}")
    batch = spark.read.parquet(f"{docs_wh}/epoch={epoch_id}")
    # (2) band the new docs; append a bkt-sorted segment to the store.
    # The collect_set observation delivers the batch's bucket set from
    # the same action that writes the segment.
    obs = Observation()
    _band_rows(batch).withColumn("bkt", _store_bkt()).observe(
        obs, F.collect_set("bkt").alias("bkts")
    ).sortWithinPartitions("bkt").write.option(
        "parquet.block.size", INC_STORE_BLOCK
    ).mode("overwrite").parquet(f"{store}/epoch={epoch_id}")
    batch_bkts = obs.get["bkts"]
    new_bands = spark.read.parquet(f"{store}/epoch={epoch_id}")
    # Epochs STRICTLY AFTER this one are excluded (partition-pruned on
    # the epoch dir column): on a replay after later epochs committed,
    # their bands are in the store, and a (this-batch, later-doc) pair
    # found here would duplicate the one the later doc's own epoch
    # already wrote. Normal flow never sees future epochs; this makes
    # replay correct under ANY ordering, not just tail-replay. The bkt
    # filter prunes the scan to the batch's own band-key buckets —
    # bounded by the batch, not the store.
    all_bands = spark.read.parquet(store).filter(
        (F.col("epoch") <= epoch_id) & F.col("bkt").isin(batch_bkts)
    )
    # (3) candidates: store-vs-new (unordered pair, at least one side
    # new; new-new found once via the doc_id ordering). The new side is
    # O(batch) — broadcast it so the store probe never shuffles. The
    # whole candidate->verify DAG stays ONE write job: cands appears
    # several times below and Spark's exchange reuse computes it once;
    # materializing it eagerly (persist + collect) was measured 2x
    # slower at sf0.1 — it forfeits AQE's whole-plan view and pays
    # per-job fixed costs four micro-batches deep.
    cands = (
        all_bands.alias("ab")
        .join(
            F.broadcast(new_bands.alias("nb")),
            (F.col("nb.band") == F.col("ab.band"))
            & (F.col("nb.band_key") == F.col("ab.band_key"))
            & (F.col("nb.doc_id") != F.col("ab.doc_id")),
        )
        .select(
            F.least("nb.doc_id", "ab.doc_id").alias("doc_a"),
            F.greatest("nb.doc_id", "ab.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Belt-and-braces for replay: drop pairs where BOTH docs predate this
    # epoch (every candidate already involves a new-bands doc by
    # construction, since the new side is this epoch's own segment).
    batch_ids = batch.select(F.col("doc_id").alias("bid"))
    cands = cands.join(
        batch_ids.hint("broadcast"),
        (F.col("doc_a") == F.col("bid")) | (F.col("doc_b") == F.col("bid")),
        "left_semi",
    )
    # (4) verify on candidate docs only, fetched from the arrived store
    # (same epoch bound as the band store, for the same replay reason).
    # The broadcast semi join bounds the verification DATA to candidate
    # docs; the text scan itself remains a pass over the warehouse — at
    # production scale the candidate text fetch is a point-lookup
    # workload, served by a doc KV store or a doc_id-bucketed table
    # rather than a flat scan (a DPP-based pruned fetch was prototyped
    # and measured SLOWER here: the pruning subquery re-executes the
    # whole candidate plan, swamping the saved I/O at any scale where a
    # broadcast probe is the right join).
    arrived = (
        spark.read.parquet(docs_wh)
        .filter(F.col("epoch") <= epoch_id)
        .select("doc_id", "text")
    )
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    needed = arrived.join(cand_ids.hint("broadcast"), "doc_id", "left_semi")
    verified = _verify_candidates(cands, needed)
    # The pair delta rides an Observation on its own write (near-dup
    # deltas are edge-list-small), so the warm-start CC epoch that
    # follows in the shared ingest can skip re-reading it — one fewer
    # job per epoch. Standalone callers may ignore the return value.
    pobs = Observation()
    verified.observe(
        pobs, F.collect_list(F.struct("doc_a", "doc_b")).alias("delta")
    ).write.mode("overwrite").parquet(f"{pairs_dir}/epoch={epoch_id}")
    return [(r["doc_a"], r["doc_b"]) for r in pobs.get["delta"]]


# One ingest stream per source split, run ONCE per (session, sf_dir,
# source) and consumed by every store reader of that source — the
# production shape, and the reference's own (`loadClusters` loads one
# prefix's batch into every cluster): ONE maintained ingest, many stores
# advanced per trigger, many downstream consumers. Each source's split
# is written once per build (through a memoized `_ensure_*_split` where
# replay tests or a per-call stream read it too), streamed one file per
# trigger by `_drain`, and every trigger runs that source's per-epoch
# store bodies — the SAME module-level epoch functions the replay tests
# lock — as independent jobs overlapped by a small driver thread pool
# (guide §2.6: concurrent jobs back-fill executors left idle by each
# small job's tail; FIFO scheduling keeps the first-submitted long pole
# resourced first). Sources share a split only where their stores'
# epoch counts agree (each builder asserts it). Epochs arrive in
# FileStreamSource order, mtime then path, and a part file's mtime is
# whenever its write task finished, so order-dependent stores (packing,
# the gram drift prefixes, the transition seams) rely on splits that
# set explicit ascending mtimes (the doc, embedding-segment and
# event-ts splits). Build/hit events land in memos.MEMO_EVENTS as
# "<source>_stream_build" / "<source>_stream_hit", so BENCH_DETAIL
# attributes each build to whichever consumer ran first; scale
# instruments clear the memo so exponents measure full builds.

# 4 concurrent store jobs fill each other's scheduling tails without
# fighting for executor cores; each source submits its long pole first
# (the doc stream's neardup+CC chain) so FIFO keeps it resourced.
DOC_STREAM_POOL = 4


def _drain(spark: SparkSession, src: str, bodies: list, ckpt: str) -> None:
    """Stream the split ``src`` (its top-level ``part-*`` files, one per
    trigger) to the end, running every ``body(batch_df, epoch_id)`` of
    ``bodies`` per trigger. Bodies run through
    session.run_concurrently, so pool threads inherit the epoch's job
    group and ``q.stop()`` cancels their in-flight jobs too; a body that
    raises fails the epoch and the stream, and a rerun on the same
    ``ckpt`` replays from the last committed epoch. A query stopped
    from outside before the split is drained raises too, so a cancelled
    build publishes nothing. The one stream runner of the store
    section."""
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("pathGlobFilter", "part-*")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def update(batch_df: DataFrame, epoch_id: int) -> None:
        run_concurrently(
            spark,
            [functools.partial(body, batch_df, epoch_id) for body in bodies],
            DOC_STREAM_POOL,
        )

    with _stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(update)
            .option("checkpointLocation", ckpt)
            .start()
        )
    try:
        q.processAllAvailable()
        # processAllAvailable returns quietly when another thread stops
        # the query mid-split.
        if not q.isActive:
            raise RuntimeError(f"stream over {src} was stopped before it drained")
    finally:
        q.stop()


def _epoch_body(spark: SparkSession, fn, *args):
    """``fn(spark, batch_df, epoch_id, *args)`` — a module-level epoch
    function — as a `_drain` body."""
    return lambda batch_df, epoch_id: fn(spark, batch_df, epoch_id, *args)


def _ensure_source_stream(
    spark: SparkSession, sf_dir: str, source: str
) -> dict[str, object]:
    """The store map of ``source``'s ingest stream (see the block
    comment), built on first use per (session, corpus) by the source's
    entry in ``_SOURCES``. A build that raises publishes nothing."""

    def build() -> dict[str, object]:
        tune(spark)
        return _SOURCES[source](spark, sf_dir)

    return memo(spark, f"{source}_stream", (sf_dir,), build)


def _docs_stream(spark: SparkSession, sf_dir: str) -> dict[str, object]:
    """Documents split into {INC_NEARDUP_EPOCHS} ascending id ranges;
    per trigger EVERY doc-fed store body: near-dup band+probe+verify +
    warm-start CC + feature pass, SimHash sign+probe with mid-stream
    compaction, BM25 segment, CDC chunks, winnowing sketch, standing
    top-K merge, KMV merge, CMS counters, token counts, value counts,
    and the two order-dependent packing stores."""
    from ..operators.dedup import _doc_features

    assert (
        INC_NEARDUP_EPOCHS == INC_BM25_EPOCHS == INC_SIMHASH_EPOCHS
        == INC_CDC_EPOCHS == INC_WINNOW_EPOCHS == INC_TOPK_EPOCHS
        == INC_KMV_EPOCHS == INC_CMS_EPOCHS == INC_TOK_EPOCHS
        == INC_VALCOUNT_EPOCHS == INC_PACK_EPOCHS
    ), "the doc stream assumes one shared epoch split"
    nd_store = _e2e_tmpdir("alrs_inc_store_")
    docs_wh = _e2e_tmpdir("alrs_inc_docs_")
    pairs_dir = _e2e_tmpdir("alrs_inc_pairs_")
    cc_dir = _e2e_tmpdir("alrs_inc_cc_")
    cc2_dir = _e2e_tmpdir("alrs_inc_cc2_")
    sim_store = _e2e_tmpdir("alrs_sim_store_")
    sim_store2 = _e2e_tmpdir("alrs_sim_store2_")
    stores = {
        "bm25": _e2e_tmpdir("alrs_bm25_segs_"),
        "cdc": _e2e_tmpdir("alrs_cdc_store_"),
        "winnow": _e2e_tmpdir("alrs_win_store_"),
        "topk": _e2e_tmpdir("alrs_topk_state_"),
        "kmv": _e2e_tmpdir("alrs_kmv_state_"),
        "cms": _e2e_tmpdir("alrs_cms_store_"),
        "token": _e2e_tmpdir("alrs_tok_store_"),
        "valcount": _e2e_tmpdir("alrs_valcount_store_"),
        "packing": _e2e_tmpdir("alrs_pack_store_"),
        "budget_packing": _e2e_tmpdir("alrs_bpack_store_"),
    }
    sim_bkts: dict[int, list[int]] = {}

    # Each store body sees exactly the columns its former dedicated
    # stream declared (parquet projection prunes the rest).
    text, with_lang = ("doc_id", "text"), ("doc_id", "lang", "text")

    def neardup(batch_df: DataFrame, epoch_id: int) -> None:
        # Curation features ride the arrived-docs warehouse write (one
        # job instead of a separate feature store): per-doc expressions,
        # so batch-local equals corpus-global, and consumers read the
        # feature columns from docs_wh with text pruned at the scan.
        # Warm-start CC over the pair delta observed by the same write
        # keeps labels a standing store (snapshot-compacted mid-stream,
        # cc_epoch_with_compaction).
        b2 = batch_df.select(*text)
        delta = ingest_neardup_epoch(
            spark, b2.join(_doc_features(b2), "doc_id"), epoch_id,
            docs_wh, nd_store, pairs_dir,
        )
        cc_epoch_with_compaction(
            spark, epoch_id, pairs_dir, cc_dir, cc2_dir, delta_rows=delta
        )

    def simhash(batch_df: DataFrame, epoch_id: int) -> None:
        sim_bkts[epoch_id] = simhash_epoch_with_compaction(
            spark, batch_df.select(*text), epoch_id, sim_store, sim_store2,
            sim_bkts,
        )

    def body(fn, name: str, cols: tuple = text):
        return lambda batch_df, epoch_id: fn(
            spark, batch_df.select(*cols), epoch_id, stores[name]
        )

    _drain(
        spark,
        _ensure_doc_split(spark, sf_dir, INC_NEARDUP_EPOCHS),
        [
            neardup,
            simhash,
            body(ingest_bm25_epoch, "bm25"),
            body(ingest_cdc_epoch, "cdc"),
            body(ingest_winnow_epoch, "winnow"),
            body(merge_topk_epoch, "topk"),
            body(merge_kmv_epoch, "kmv", with_lang),
            body(ingest_cms_epoch, "cms"),
            body(ingest_token_counts_epoch, "token"),
            body(ingest_valcount_epoch, "valcount"),
            body(ingest_packing_epoch, "packing", with_lang),
            body(ingest_budget_packing_epoch, "budget_packing", with_lang),
        ],
        _e2e_tmpdir("alrs_docstream_ckpt_"),
    )
    # The SimHash store's deferred-delta design pays one post-stream
    # flush for the final epoch (see flush_simhash_delta).
    last = INC_SIMHASH_EPOCHS - 1
    flush_simhash_delta(spark, sim_store2, last, prev_bkts=sim_bkts.get(last))
    # Consumers resolve the POST-compaction CC store (every
    # pre-compaction node is in the snapshot); features ride docs_wh.
    stores["neardup"] = (docs_wh, nd_store, pairs_dir, docs_wh, cc2_dir)
    stores["simhash"] = (sim_store, sim_store2)
    return stores


def _register_incremental_neardup() -> None:
    from ..operators.dedup import _PAIRS_ORACLE_CTES

    @register(
        "stream_incremental_neardup",
        f"""
        WITH {_PAIRS_ORACLE_CTES}
        SELECT doc_a, doc_b, jaccard FROM pairs
        """,
    )
    def stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming maintenance of the near-dup pair graph (see block
        comment): the shared ingest stream (one file per trigger,
        foreachBatch = band + pruned store probe + exact verify, all
        epoch-partitioned idempotent overwrites) maintains the pair
        store; this query returns the union of per-epoch pair deltas.
        The oracle is the full batch recompute, so the driver's hash
        gate proves incremental == batch. The ingest itself runs once
        per session and is SHARED with stream_incremental_curation (one
        maintained pipeline, many consumers — see _docs_stream;
        BENCH_DETAIL's memo_events labels which consumer paid the build).

        Scale: per epoch the work is O(batch) banding + a bucket-pruned,
        broadcast-probed candidate join (see ingest_neardup_epoch) +
        verification that touches ONLY candidate docs. The full corpus
        is never re-shingled or re-scanned after its arrival epoch — the
        delta cost a 100 TB corpus needs when 0.1% arrives daily."""
        _, _, pairs_dir, _, _ = _ensure_source_stream(spark, sf_dir, "docs")["neardup"]
        return spark.read.parquet(pairs_dir).select("doc_a", "doc_b", "jaccard")


_register_incremental_neardup()


# ---- Incremental ANN index maintenance ----------------------------------
# The retrieval-side sibling of stream_incremental_neardup: the IVF
# coarse quantizer is trained OFFLINE (on the static corpus — exactly
# how production vector stores deploy a quantizer), then the inverted
# file (postings) is maintained per micro-batch: each arriving vector
# block is centroid-assigned with the same map-only GEMM the batch index
# uses and appended to an epoch-partitioned postings store. A probe over
# the fully-ingested store must equal the batch IVF query — which is the
# oracle (the same trained-quantizer CTE chain that gates
# embedding_ivf_topk).
INC_IVF_EPOCHS = 4


def _register_incremental_ivf() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_ivf",
        lambda: _REG["embedding_ivf_topk"].oracle,
    )
    def stream_incremental_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming IVF index maintenance (see block comment): train the
        coarse quantizer offline, split the corpus into
        {INC_IVF_EPOCHS} range files, stream one per trigger, per batch
        assign cells (map-only GEMM) and append to the postings store
        (epoch-partitioned overwrite — replay-idempotent), then probe the
        store with the standing query set. Hash-gated equal to the batch
        embedding_ivf_topk plan.

        Scale: per epoch the work is O(batch) assignment — the store is
        append-only and never rescanned during ingest. The probe is the
        batch plan's own probe (factored shared code), reading only the
        probed cells' postings. This is the production pattern: offline-
        trained quantizer, online postings, queries see every ingested
        vector immediately after its epoch commits."""
        from ..operators.similarity import (
            N_QUERIES,
            TOP_K,
            _probe_postings,
            _quantize,
        )
        from pyspark.sql.window import Window as W

        tune(spark)
        postings_dir, ids, cent = _ensure_source_stream(
            spark, sf_dir, "emb_quantized"
        )["ivf"]
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", _quantize("embedding").alias("e")
        )
        postings = spark.read.parquet(postings_dir).select("vec_id", "e", "cell")
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        scored = _probe_postings(spark, postings, queries, ids, cent).drop("e")
        w = W.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )


_register_incremental_ivf()


def _register_stream_ivf_occupancy() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_ivf_occupancy",
        lambda: _REG["ivf_occupancy_report"].oracle,
    )
    def stream_ivf_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The IVF balance audit SERVED from the incremental postings
        store — the dashboard a continuously-ingesting vector index
        actually exposes ("are my cells still even, right now"):
        resolve the store's standing postings, count per cell, ppm
        shares and hot factors — identical arithmetic to the batch
        ivf_occupancy_report, hash-gated on its oracle, proving the
        store-served audit equals the full recompute. Shares the
        session's IVF ingest via _emb_quantized_stream (one build, two
        consumers); the hot-cell signal here is what feeds the
        drift-triggered refresh decision at production scale.

        Scale: read cost is one postings scan to a {IVF_CELLS}-row
        aggregate + one broadcast scalar; maintenance is the shared
        ingest's O(batch) per epoch."""
        tune(spark)
        postings_dir, _, _ = _ensure_source_stream(
            spark, sf_dir, "emb_quantized"
        )["ivf"]
        occ = (
            spark.read.parquet(postings_dir)
            .groupBy("cell")
            .agg(F.count("*").cast("bigint").alias("n_vecs"))
        )
        tot = occ.agg(
            F.sum("n_vecs").cast("bigint").alias("total"),
            F.count("*").cast("bigint").alias("n_cells"),
        )
        return occ.crossJoin(F.broadcast(tot)).select(
            F.col("cell").cast("int").alias("cell"),
            "n_vecs",
            F.expr("n_vecs * 1000000 div total")
            .cast("bigint")
            .alias("share_ppm"),
            F.expr("(n_vecs * 1000000 div total) * n_cells")
            .cast("bigint")
            .alias("hot_ppm"),
        )


_register_stream_ivf_occupancy()


# ---- IVF centroid refresh (mid-stream re-training + re-bucketing) -------
# Round-12: every signature store compacts mid-stream, but the IVF
# store's geometry was frozen at build. This query exercises the missing
# maintenance operation: the quantizer deployed at stream start is
# deliberately STALE (trained on the first 1/INC_IVF_EPOCHS id range —
# all that exists at deploy time); at epoch INC_IVF_REFRESH_AT the
# centroids are retrained on the deterministic ingested-so-far id range
# and the accumulated postings are re-bucketed into a second store (the
# simhash_epoch_with_compaction routing), which later epochs ingest
# into. Final state == the whole corpus assigned against the refreshed
# centroids — the batch recompute, which is the oracle.
INC_IVF_REFRESH_AT = 2


def _ivf_geometry(spark: SparkSession, sf_dir: str, upto_epochs: int):
    """Quantizer trained on the deterministic first upto_epochs /
    INC_IVF_EPOCHS vec_id range: seed = first IVF_CELLS vectors, the
    standard Lloyd round(s) over that prefix. A pure function of
    (sf_dir, upto_epochs) — re-derivable after any driver restart, so
    replays need no stashed state; the SQL oracle reproduces it with
    the same prefix restriction."""
    import math

    from ..operators.similarity import IVF_TRAIN_ITERS, _kmeans_centroids, _quantize

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    b = upto_epochs * math.ceil(emb.count() / INC_IVF_EPOCHS)
    return _kmeans_centroids(
        spark, emb.filter(F.col("vec_id") < b), IVF_TRAIN_ITERS
    )


def ivf_epoch_with_refresh(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store: str,
    store2: str,
    sf_dir: str,
    geom: dict,
) -> None:
    """Epoch router for IVF maintenance WITH a mid-stream centroid
    refresh (module-level so replay idempotence is directly testable —
    the simhash_epoch_with_compaction pattern): epochs before
    INC_IVF_REFRESH_AT assign with the stale deploy-time quantizer
    into ``store``; when epoch INC_IVF_REFRESH_AT arrives, centroids
    retrain on the ingested-so-far id prefix, the accumulated postings
    re-bucket into ``store2`` (one O(prefix) map-only GEMM pass —
    above the checkpoint's committed offset, so pre-refresh epochs
    never replay into it), and that epoch plus every later one assigns
    with the refreshed centroids into ``store2``.

    Replay: routing is a pure function of epoch_id; both geometries are
    pure functions of (sf_dir, epoch range) so a restarted driver
    re-derives them; the re-bucket input (epochs < INC_IVF_REFRESH_AT
    of ``store``) is frozen once those epochs commit, so re-running the
    refresh rewrites identical content — idempotent under any replay
    order (test-locked). ``geom`` is a driver-side memo only."""
    from ..operators.similarity import _assign_cells

    if epoch_id < INC_IVF_REFRESH_AT:
        if "v1" not in geom:
            geom["v1"] = _ivf_geometry(spark, sf_dir, 1)
        ids, cent = geom["v1"]
        _assign_cells(batch_df, ids, cent).write.mode("overwrite").parquet(
            f"{store}/epoch={epoch_id}"
        )
        return
    if "v2" not in geom:
        geom["v2"] = _ivf_geometry(spark, sf_dir, INC_IVF_REFRESH_AT)
    ids2, cent2 = geom["v2"]
    # Gate the re-bucket fallback on the _SUCCESS marker, not directory
    # existence: Spark creates epoch=0/ before the write commits, so a
    # crash mid-rebucket would otherwise leave a partial epoch=0 that a
    # replay treats as complete and skips rewriting.
    if epoch_id == INC_IVF_REFRESH_AT or not _os_cc.path.isfile(
        f"{store2}/epoch=0/_SUCCESS"
    ):
        old = spark.read.parquet(store).select("vec_id", "e")
        _assign_cells(old, ids2, cent2).write.mode("overwrite").parquet(
            f"{store2}/epoch=0"
        )
    _assign_cells(batch_df, ids2, cent2).write.mode("overwrite").parquet(
        f"{store2}/epoch={epoch_id}"
    )


def _register_incremental_ivf_refresh() -> None:
    from ..operators.similarity import _ivf_refresh_oracle

    @register(
        "stream_incremental_ivf_refresh",
        _ivf_refresh_oracle(INC_IVF_REFRESH_AT, INC_IVF_EPOCHS),
    )
    def stream_incremental_ivf_refresh(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Streaming IVF maintenance with a mid-stream centroid refresh
        (see block comment): stale deploy-time quantizer for the
        pre-refresh epochs, retrain + re-bucket at epoch
        INC_IVF_REFRESH_AT, refreshed quantizer afterwards; the final
        probe runs against the refreshed store only. Hash-gated equal
        to the batch recompute with the refreshed centroids
        (_ivf_refresh_oracle) — completing maintenance coverage across
        every incremental store kind (round-11 verdict item 4).

        Scale: per epoch O(batch) assignment; the one-off re-bucket is
        an O(ingested-prefix) map-only GEMM (the same bill the simhash
        compaction pays); the store is never rescanned during ingest.
        Recall measured, not asserted (ANN_RECALL.json): 0.80 at
        nprobe={{IVF_NPROBE}} — the honest cost of a quantizer trained
        on the first half of the stream vs 0.90 for the full-corpus
        batch geometry (embedding_ivf_topk)."""
        from pyspark.sql.window import Window as W

        from ..operators.similarity import (
            N_QUERIES,
            TOP_K,
            _probe_postings,
            _quantize,
        )

        tune(spark)
        store2, ids2, cent2 = _ensure_source_stream(
            spark, sf_dir, "emb_quantized"
        )["ivf_refresh"]
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", _quantize("embedding").alias("e")
        )
        postings = spark.read.parquet(store2).select("vec_id", "e", "cell")
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        scored = _probe_postings(spark, postings, queries, ids2, cent2).drop("e")
        w = W.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )


_register_incremental_ivf_refresh()



# ---- Incremental lexical (BM25) index maintenance -----------------------
# Third member of the incremental-index family (near-dup pair graph,
# IVF postings, now the lexical inverted file): per micro-batch the
# arriving documents are tokenized once and their COMPLETE postings
# (doc_id, token, tf) plus doc lengths land in an epoch-partitioned
# store — the classic search-engine segment write. Query-time BM25 over
# the fully-ingested store (df/idf/avgdl derived from the store, query
# vocabulary restriction applied at query time exactly like the batch
# plan) must equal batch bm25_topk — which is the oracle.
INC_BM25_EPOCHS = 4


def ingest_bm25_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, seg_dir: str
) -> None:
    """One BM25 segment-maintenance epoch (module-level so replay
    idempotence is directly testable): tokenize the batch, split doc
    postings vs query-token rows on the doc_id < BM25_QUERY_MAX
    convention, and commit BOTH in ONE epoch-partition write (an
    is_query flag splits them at read time) — one job per micro-batch,
    half the per-epoch fixed cost of separate stores. Pure function of
    the frozen batch file (batch-local groupBy — every document arrives
    whole), so replays rewrite identical bytes."""
    from ..functions.scalar import norm_text
    from ..operators.text import BM25_QUERY_MAX

    toks = batch_df.select(
        "doc_id", F.explode(F.split(norm_text("text"), " ")).alias("token")
    )
    post = (
        toks.filter(F.col("doc_id") >= BM25_QUERY_MAX)
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .withColumn("is_query", F.lit(False))
    )
    qtok = (
        toks.filter(F.col("doc_id") < BM25_QUERY_MAX)
        .select("doc_id", "token")
        .distinct()
        .withColumn("tf", F.lit(None).cast("bigint"))
        .withColumn("is_query", F.lit(True))
    )
    post.unionByName(qtok).write.mode("overwrite").parquet(
        f"{seg_dir}/epoch={epoch_id}"
    )


def _register_incremental_bm25() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_bm25",
        lambda: _REG["bm25_topk"].oracle,
    )
    def stream_incremental_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming BM25 segment maintenance (see block comment):
        documents split into {INC_BM25_EPOCHS} range files → one file per
        trigger → per batch tokenize + per-doc tf groupBy (batch-local —
        every document arrives whole) → epoch-partitioned postings/query-
        token stores (replay-idempotent overwrites). The final ranking
        runs the batch plan's own _bm25_rank over store-derived frames;
        the driver's hash gate proves incremental == batch.

        Scale: ingest work is O(batch tokens) with one batch-local
        groupBy — the store is never rescanned during ingest (doc
        lengths and corpus totals derive from postings at query time via
        map-side-combined aggregates; production would fold them into
        segment metadata). Query-time vocabulary restriction keeps the
        scoring join bounded by query terms, same as batch. Doc postings
        and query-token rows land in ONE segment write per epoch (an
        is_query flag splits them at read time) — one job per
        micro-batch, half the per-epoch fixed cost of separate stores.
        The segment maintenance rides the fused doc stream (r19: one
        stream advances every doc-fed store per trigger — see
        _docs_stream; ingest_bm25_epoch is this store's body)."""
        from ..operators.text import _bm25_rank

        tune(spark)
        seg_dir = _ensure_source_stream(spark, sf_dir, "docs")["bm25"]
        segs = spark.read.parquet(seg_dir)
        postings = segs.filter(~F.col("is_query")).select("doc_id", "token", "tf")
        qterms = segs.filter(F.col("is_query")).select(
            F.col("doc_id").alias("query_id"), "token"
        )
        tf = postings.join(
            F.broadcast(qterms.select("token").distinct()), "token", "left_semi"
        )
        doclen = postings.groupBy("doc_id").agg(
            F.sum("tf").cast("bigint").alias("len")
        )
        stats = postings.agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("tf").cast("bigint").alias("n_toks"),
        )
        return _bm25_rank(tf, qterms, doclen, stats)


_register_incremental_bm25()


# ---- Incremental corpus curation ----------------------------------------
# The capstone composition of the incremental-index family: per
# micro-batch the arriving documents flow through the SAME near-dup
# ingest epoch the pair-graph query uses (band + store join + verify,
# epoch-idempotent) AND a batch-local feature pass (quality score, token
# count, deterministic split — all per-doc expressions, so batch-local
# equals corpus-global). A periodic compaction then clusters the
# accumulated pair store and runs the batch capstone's own report
# epilogue over the accumulated features. Equality with the one-shot
# corpus_curation_e2e is the oracle — per-batch curation decisions with
# the batch pipeline's exact semantics. The ingest (including the
# feature pass) is the SHARED per-session stream built by
# _docs_stream, so within one session the pair-graph query
# and this one pay for it once between them.


def _register_incremental_curation() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_curation",
        lambda: _REG["corpus_curation_e2e"].oracle,
    )
    def stream_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming curation (see block comment): the shared ingest
        stream maintains the pair store, the WARM-START incremental CC
        kind-tagged CC store (ingest_cc_epoch — per-epoch CC over the
        delta-projected label graph, never the accumulated pairs), AND a
        per-batch feature store (quality score, token count,
        deterministic split — map-only per-doc expressions, so
        batch-local equals corpus-global); the read here just RESOLVES
        the standing labels (one scan + a broadcast of the merge-event-
        sized remap — no CC at read time) and runs the batch capstone's
        report epilogue over the feature store. Hash-gated equal to the
        batch corpus_curation_e2e. The ingest is SHARED with
        stream_incremental_neardup (one maintained pipeline, many
        consumers — see _docs_stream).

        Scale: ingest is O(batch) per epoch (near-dup delta + bucket-
        pruned label maintenance + map-only features); the read touches
        the node-grain label store
        and the one-row-per-doc feature store — the nightly-report shape
        over a continuously-ingested corpus. Nothing rescans document
        text after its arrival epoch."""
        from ..operators.dedup import _curation_report

        _, _, _, feat_dir, cc_dir = _ensure_source_stream(
            spark, sf_dir, "docs"
        )["neardup"]
        clusters = resolve_incremental_labels(spark, cc_dir)
        features = spark.read.parquet(feat_dir).select(
            "doc_id", "quality_score", "n_tokens", "split"
        )
        return _curation_report(clusters, features)


_register_incremental_curation()


def _register_incremental_cc() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_cc",
        lambda: _REG["dedup_connected_components"].oracle,
    )
    def stream_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Warm-start incremental connected components surfaced as its
        own standing query (ninth member of the incremental-store
        family): the shared near-dup ingest maintains the kind-tagged CC
        store per epoch (ingest_cc_epoch — CC over the delta-projected
        label graph only), and this read just RESOLVES them. Oracle =
        the batch dedup_connected_components SQL, so the hash gate
        proves the standing labels equal the recursive-CTE fixpoint over
        the full pair graph at every verification.

        Scale: read cost is one label-store scan plus a broadcast of
        the merge-event-sized remap — no CC at read time; maintenance
        cost is measured O(delta) by the ccprobe instrument
        (BENCH_SCALE stream_incremental_curation@ccprobe)."""
        _, _, _, _, cc_dir = _ensure_source_stream(spark, sf_dir, "docs")["neardup"]
        return resolve_incremental_labels(spark, cc_dir).select(
            "doc_id", "cluster_id"
        )


_register_incremental_cc()


def _register_stream_cluster_sizes() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_cluster_sizes",
        lambda: _REG["cluster_size_histogram"].oracle,
    )
    def stream_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Standing cluster-SIZE distribution served from the
        incremental CC store — the dedup-shape report
        (cluster_size_histogram) as a store read instead of a batch
        recompute: resolve the warm-start labels (one label-store scan
        + the merge-event-sized broadcast remap, no CC at read time)
        and aggregate sizes on top. This is the dashboard query a
        continuously-ingesting dedup pipeline actually serves —
        "how big are the duplicate clusters right now" — and its hash
        gate proves the standing store answers it identically to the
        full batch pair-graph recompute. Shares the session ingest with
        the other store consumers (memo: one build, many reads).

        Scale: read cost is the store scan plus three bounded
        aggregates (cluster grain, then size grain — both shrink
        monotonically); maintenance cost is the ingest's measured
        O(delta) per epoch (BENCH_SCALE ccprobe)."""
        _, _, _, _, cc_dir = _ensure_source_stream(spark, sf_dir, "docs")["neardup"]
        labels = resolve_incremental_labels(spark, cc_dir)
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_docs = d.agg(F.count("*").cast("bigint").alias("n_docs"))
        sizes = labels.groupBy("cluster_id").agg(
            F.count("*").cast("bigint").alias("size")
        )
        hist = sizes.groupBy("size").agg(
            F.count("*").cast("bigint").alias("n_clusters")
        )
        covered = hist.agg(
            F.sum(F.col("size") * F.col("n_clusters")).cast("bigint").alias("n_covered")
        )
        return (
            hist.crossJoin(F.broadcast(n_docs))
            .crossJoin(F.broadcast(covered))
            .select(
                "size",
                "n_clusters",
                (F.col("size") * F.col("n_clusters")).cast("bigint").alias("n_docs_in"),
                (F.col("n_docs") - F.col("n_covered")).cast("bigint").alias("n_singletons"),
            )
        )


_register_stream_cluster_sizes()

# ---- Incremental SimHash index maintenance ------------------------------
# Fifth member of the incremental-index family, and the cheapest to
# maintain: the SimHash signature is a pure per-doc function, so each
# micro-batch signs ONLY its own documents and appends pigeonhole band
# rows to an epoch-partitioned signature store (same bkt-sorted zone-map
# layout as the near-dup band store). Because every band row carries the
# full 60-bit signature, the Hamming verification happens INSIDE the
# band-collision probe join — no second text/signature fetch at all, the
# property that makes SimHash the classic streaming near-dup index
# (a Hamming-band probe, incrementally). Pair disjointness across epochs
# is structural exactly as for MinHash: the probe side is this epoch's
# own segment, so a pair is found once, in its later doc's epoch; the
# union of per-epoch deltas equals the batch recompute, which is the
# oracle (simhash_neardup_pairs' own SQL).
#
# ONE output commit per trigger (the round-10 verdict's "fuse the
# segment write and pair-delta write" lever, same shape as the
# kind-tagged CC store): epoch K's single write carries this epoch's
# band segment (kind=0) PLUS the PREVIOUS epoch's Hamming-verified pair
# delta (kind=1) — the delta is DEFERRED one epoch so its isin pruning
# literals (the previous segment's bucket set) are already known from
# that segment's own Observation, with zero extra jobs. A committed
# segment is frozen, so delta(e) = probe(segment_e vs kind-0 rows of
# epochs <= e) is a pure function of committed store content: it can be
# (re)computed at epoch e+1, on replay after a driver restart (the
# bucket set is then re-derived from the committed segment — one tiny
# pruned read), or by the post-stream flush for the final epoch, always
# bit-identically. The alternatives measured and rejected for the
# MinHash store (separate distinct-collect job: +1.1 s/epoch) stay
# rejected; this design needs neither a second write nor a collect.
INC_SIMHASH_EPOCHS = 4


def _sim_bkt(n_bkt: int | None = None) -> "F.Column":
    return F.pmod(
        F.xxhash64("band", "band_val"), F.lit(n_bkt or INC_STORE_BKTS)
    ).cast("int")


# Mid-stream segment compaction point for the SimHash store query: when
# epoch INC_SIM_COMPACT_AT arrives, every earlier epoch segment is merged
# into a fresh store at INC_SIM_COMPACT_GROWTH x the bucket count
# (constant rows-per-bucket as the corpus grows — the policy
# _compact_signature_store documents), and the stream CONTINUES against
# the compacted store. Epoch routing (which store + which bucket count)
# is a pure function of epoch_id, so replaying any epoch — before or
# after the compaction point, in any order — reproduces its original
# outputs (test-locked).
INC_SIM_COMPACT_AT = 2
INC_SIM_COMPACT_GROWTH = 4


def _sim_kind0(bands: DataFrame) -> DataFrame:
    """Band rows -> the fused store's full schema (kind=0)."""
    return bands.select(
        F.lit(0).alias("kind"),
        "doc_id",
        "simhash",
        "band",
        "band_val",
        "bkt",
        F.lit(None).cast("bigint").alias("doc_a"),
        F.lit(None).cast("bigint").alias("doc_b"),
        F.lit(None).cast("int").alias("hamming"),
    )


def _sim_kind1(pairs: DataFrame) -> DataFrame:
    """Pair-delta rows -> the fused store's full schema (kind=1)."""
    return pairs.select(
        F.lit(1).alias("kind"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.lit(None).cast("bigint").alias("simhash"),
        F.lit(None).cast("int").alias("band"),
        F.lit(None).cast("bigint").alias("band_val"),
        F.lit(None).cast("int").alias("bkt"),
        "doc_a",
        "doc_b",
        "hamming",
    )


def _simhash_delta(
    spark: SparkSession,
    seg_store: str,
    seg_epoch: int,
    seg_bkts: list[int] | None = None,
) -> DataFrame:
    """Hamming-verified pair delta of epoch ``seg_epoch``: the committed
    segment probed (broadcast) against the accumulated kind-0 band rows
    of epochs <= seg_epoch, pruned at the source to the segment's own
    bucket set — a pure function of committed store content, so it is
    replay-safe wherever it is (re)computed. ``seg_bkts`` normally
    arrives from the segment write's Observation; on a replay after a
    driver restart it is re-derived from the committed segment (one tiny
    pruned read)."""
    from ..operators.dedup import HAMMING_MAX

    seg = spark.read.parquet(seg_store).filter(
        (F.col("epoch") == seg_epoch) & (F.col("kind") == 0)
    )
    if seg_bkts is None:
        seg_bkts = [r[0] for r in seg.select("bkt").distinct().collect()]
    all_bands = spark.read.parquet(seg_store).filter(
        (F.col("epoch") <= seg_epoch)
        & (F.col("kind") == 0)
        & F.col("bkt").isin(seg_bkts)
    )
    hamming = F.bit_count(
        F.col("nb.simhash").bitwiseXOR(F.col("ab.simhash"))
    ).cast("int")
    return (
        all_bands.alias("ab")
        .join(
            F.broadcast(seg.alias("nb")),
            (F.col("nb.band") == F.col("ab.band"))
            & (F.col("nb.band_val") == F.col("ab.band_val"))
            & (F.col("nb.doc_id") != F.col("ab.doc_id")),
        )
        .select(
            F.least("nb.doc_id", "ab.doc_id").alias("doc_a"),
            F.greatest("nb.doc_id", "ab.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )



def ingest_simhash_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store: str,
    n_bkt: int | None = None,
    delta_spec: tuple[str, int] | None = None,
    prev_bkts: list[int] | None = None,
) -> list[int]:
    """One SimHash ingest epoch (module-level so replay idempotence is
    directly testable, like ingest_neardup_epoch): sign the batch and
    make ONE fused write to ``store/epoch={epoch_id}`` carrying this
    epoch's band segment (kind=0, bkt-sorted, small row groups) plus the
    PREVIOUS epoch's pair delta (kind=1, see _simhash_delta and the
    block comment) — one output commit per trigger, an epoch-partition
    overwrite, so any replay reproduces its original outputs. Returns
    this segment's bucket set (riding an Observation on the fused
    write — no extra job) for the NEXT epoch's delta pruning.

    ``delta_spec`` overrides which committed segment's delta this write
    carries as ``(store_path, epoch)`` — the compaction router points it
    at the pre-compaction store for the switchover epoch; an epoch < 0
    skips the delta (epoch 0, and the probe instrument's bulk loads).
    Per-epoch cost is O(batch) signing + O(batch keys x bucket size)
    probe I/O; both-docs-old pairs are structurally impossible (the
    probe side is the deferred epoch's segment alone), so no
    batch-membership filter is needed."""
    from pyspark.sql import Observation

    from ..operators.dedup import _simhash_band_rows, _simhash_sigs

    if delta_spec is None:
        delta_spec = (store, epoch_id - 1)
    d_store, d_epoch = delta_spec
    obs = Observation()
    bands = _simhash_band_rows(_simhash_sigs(batch_df)).withColumn(
        "bkt", _sim_bkt(n_bkt)
    )
    out = _sim_kind0(bands).observe(
        obs, F.collect_set("bkt").alias("bkts")
    ).sortWithinPartitions("bkt")
    if d_epoch >= 0:
        out = out.unionByName(_sim_kind1(_simhash_delta(spark, d_store, d_epoch, prev_bkts)))
    out.write.option("parquet.block.size", INC_STORE_BLOCK).mode(
        "overwrite"
    ).parquet(f"{store}/epoch={epoch_id}")
    return obs.get["bkts"]


def flush_simhash_delta(
    spark: SparkSession,
    store: str,
    last_epoch: int,
    prev_bkts: list[int] | None = None,
) -> None:
    """Write the FINAL epoch's deferred pair delta once the stream
    drains, as a pairs-only partition at ``epoch={last_epoch + 1}`` —
    the one extra commit the deferred design pays at stream end (and on
    a restart it simply recomputes the same pure function)."""
    _sim_kind1(_simhash_delta(spark, store, last_epoch, prev_bkts)).write.mode(
        "overwrite"
    ).parquet(f"{store}/epoch={last_epoch + 1}")


def simhash_epoch_with_compaction(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store: str,
    store2: str,
    bkts_by_epoch: dict[int, list[int]] | None = None,
) -> list[int]:
    """Epoch router exercising segment compaction INSIDE the epoch loop
    (round-9 verdict item 3): epochs before INC_SIM_COMPACT_AT ingest
    into the original store at the default bucket count; when epoch
    INC_SIM_COMPACT_AT arrives, the accumulated segments are first
    merged into ``store2`` at {INC_SIM_COMPACT_GROWTH}x buckets
    (compact_simhash_store — above the checkpoint's committed offset,
    so pre-compaction epochs never replay into the merged store), and
    that epoch plus every later one ingests into ``store2`` probing
    with the grown bucket count. The switchover epoch's DEFERRED pair
    delta still belongs to the last pre-compaction segment, so its
    delta_spec points at the OLD store (old bucketing — the committed
    rows carry their own bkt, so no re-derivation is needed); pair
    deltas are otherwise unaffected: bucket membership is a pure
    function of the probe key, so candidates survive re-bucketing
    bit-for-bit (the compaction equivalence test), and the hash gate vs
    the batch recompute stays the proof.

    Replay: routing is a pure function of epoch_id and the compaction
    input (epochs < INC_SIM_COMPACT_AT of ``store``) never changes
    after those epochs commit, so re-running the compaction on a replay
    of epoch {INC_SIM_COMPACT_AT} rewrites identical content —
    idempotent under any replay order (test-locked). ``bkts_by_epoch``
    is the driver-side stash of per-epoch Observation bucket sets
    (bounded: one int list per epoch); a missing entry — first epoch,
    or any epoch after a driver restart — just re-derives from the
    committed segment."""
    prev = (bkts_by_epoch or {}).get(epoch_id - 1)
    if epoch_id < INC_SIM_COMPACT_AT:
        return ingest_simhash_epoch(spark, batch_df, epoch_id, store, prev_bkts=prev)
    n2 = INC_STORE_BKTS * INC_SIM_COMPACT_GROWTH
    if epoch_id == INC_SIM_COMPACT_AT or not _os_cc.path.isdir(f"{store2}/epoch=0"):
        compact_simhash_store(spark, store, store2, n2)
    d_store = store if epoch_id == INC_SIM_COMPACT_AT else store2
    return ingest_simhash_epoch(
        spark,
        batch_df,
        epoch_id,
        store2,
        n_bkt=n2,
        delta_spec=(d_store, epoch_id - 1),
        prev_bkts=prev,
    )


def _register_incremental_simhash() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_simhash",
        lambda: _REG["simhash_neardup_pairs"].oracle,
    )
    def stream_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming SimHash near-dup maintenance (see block comment):
        documents split into {INC_SIMHASH_EPOCHS} range files -> one per
        trigger -> per batch `ingest_simhash_epoch` (sign, append band
        segment, Hamming-probe the pruned store, write the pair delta).
        The returned frame is the union of per-epoch deltas; the oracle
        is the batch simhash_neardup_pairs SQL, so the driver's hash
        gate proves incremental == batch.

        Scale: the per-doc signature needs no corpus state, the store is
        append-only, and the probe prunes to the batch's band buckets —
        the full corpus is never re-signed or re-scanned after its
        arrival epoch. This is the Hamming-band analog of the MinHash
        store, with verification fused into the probe join — and ONE
        output commit per trigger (deferred delta, see the block
        comment), plus one post-stream flush for the final epoch.
        The store rides the fused doc stream (r19, _docs_stream),
        which runs the compaction router per trigger and the
        final-epoch flush."""
        tune(spark)
        store, store2 = _ensure_source_stream(spark, sf_dir, "docs")["simhash"]
        pair_cols = ["doc_a", "doc_b", "hamming"]
        return (
            spark.read.parquet(store)
            .filter(F.col("kind") == 1)
            .select(*pair_cols)
            .unionByName(
                spark.read.parquet(store2)
                .filter(F.col("kind") == 1)
                .select(*pair_cols)
            )
        )


_register_incremental_simhash()

# ---- Incremental CDC chunk store ----------------------------------------
# Sixth member of the incremental-index family, and the purest
# append-only one: Rabin chunk boundaries depend only on each document's
# own content, so every micro-batch chunks ONLY its arriving documents
# (map-only, zero shuffle) and appends the chunk rows to an
# epoch-partitioned store — the write path of a chunked dedup store
# (backup systems, LLM corpus delta storage). There is no per-epoch
# probe at all: the dedup-ratio report is a compaction-time aggregate
# over the accumulated store, exactly the batch cdc_chunks epilogue,
# which is the oracle.
INC_CDC_EPOCHS = 4


def ingest_cdc_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One CDC ingest epoch (module-level so replay idempotence is
    directly testable): chunk the batch and overwrite this epoch's
    partition of the chunk store. Chunking is per-doc map-only work —
    O(batch) with no state read whatsoever.

    Because the chunker has NO shuffle anywhere, its parallelism is
    whatever the source hands it — and a micro-batch arriving as one
    file is one task (the other ingest families spread at their first
    groupBy; this one never would). Spread under-partitioned batches
    across the executors before chunking: one round-robin exchange of
    the batch text, the standard fix for a map-only stage behind a
    coarse-grained source."""
    from ..operators.dedup import _cdc_chunk_rows

    target = spark.sparkContext.defaultParallelism
    if batch_df.rdd.getNumPartitions() < target:
        batch_df = batch_df.repartition(target)
    _cdc_chunk_rows(batch_df).write.mode("overwrite").parquet(
        f"{store}/epoch={epoch_id}"
    )


def _register_incremental_cdc() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_cdc",
        lambda: _REG["cdc_chunks"].oracle,
    )
    def stream_incremental_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming CDC chunk-store maintenance (see block comment):
        documents split into {INC_CDC_EPOCHS} range files -> one per
        trigger -> per batch `ingest_cdc_epoch` (map-only Rabin
        chunking, epoch-partitioned overwrite). The report here runs
        the batch cdc_chunks aggregate over the accumulated store; the
        driver's hash gate proves incremental == batch.

        Scale: ingest is the cheapest possible delta — map-only
        chunking of new docs, no probe, no shuffle; the store is
        append-only and read only at report (compaction) time, where
        the chunk-hash groupBy is map-side combined on ~uniform md5
        keys. This is the write path a chunked 100 TB corpus store
        runs on every arrival batch. The store rides the fused doc
        stream (r19, _docs_stream)."""
        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "docs")["cdc"]
        chunks = spark.read.parquet(store).select("doc_id", "chunk_hash", "chunk_len")
        return (
            chunks.groupBy("chunk_hash")
            .agg(
                F.min("chunk_len").cast("bigint").alias("chunk_len"),
                F.count("*").cast("bigint").alias("n_copies"),
                F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            )
            .filter(F.col("n_copies") >= 2)
        )


_register_incremental_cdc()

# ---- Incremental winnowing fingerprint store ----------------------------
# Seventh member of the incremental-index family: MOSS-style winnowing
# fingerprints are within-doc (rolling hash + frame MIN + per-doc
# distinct), so each micro-batch fingerprints ONLY its arriving
# documents and appends them to an epoch-partitioned sketch store — the
# plagiarism/copy-detection index a continuously-ingested corpus keeps.
# Like the CDC store, ingest reads no state at all; the accumulated
# store IS the batch answer, which is the oracle.
INC_WINNOW_EPOCHS = 4


def ingest_winnow_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One winnowing ingest epoch (module-level so replay idempotence is
    directly testable): fingerprint the batch and overwrite this epoch's
    store partition. Within-doc work only — O(batch), no state read."""
    from ..operators.text import _winnow_fps

    _winnow_fps(batch_df).write.mode("overwrite").parquet(
        f"{store}/epoch={epoch_id}"
    )


def _register_incremental_winnow() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_winnow",
        lambda: _REG["winnowing_fingerprints"].oracle,
    )
    def stream_incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming winnowing-sketch maintenance (see block comment):
        documents split into {INC_WINNOW_EPOCHS} range files -> one per
        trigger -> per batch `ingest_winnow_epoch` (rolling-hash + frame
        MIN, epoch-partitioned overwrite). The returned frame is the
        accumulated store; the driver's hash gate proves
        incremental == batch.

        Scale: ingest is within-doc work on new docs only (the window
        MIN shuffles each batch on doc_id and nothing else); the store
        is append-only. The sketch is ~len/w hashes per doc, so the
        store stays ~6% of corpus text — the copy-detection index shape
        a 100 TB corpus maintains per arrival batch. The store rides
        the fused doc stream (r19, _docs_stream)."""
        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "docs")["winnow"]
        return spark.read.parquet(store).select("doc_id", "fingerprint")


_register_incremental_winnow()

# ---- Incremental embedding-cosine near-dup store ------------------------
# Eighth member of the incremental-index family, completing the
# near-dup trio — lexical (MinHash bands), bitwise (SimHash Hamming),
# and now SEMANTIC (hyperplane-LSH cosine) — all maintained per
# micro-batch. The hyperplane signature is stateless (md5-derived
# planes), so each arriving batch stamps its own bucket ids with the
# same map-only GEMM the batch plan uses and appends (vec_id, e,
# bucket) rows to a bkt-hashed zone-map store; index GEOMETRY (the
# signature width b) is fixed from the corpus count before streaming
# starts — exactly how production deploys LSH (geometry per segment
# generation, re-derived at compaction when the corpus outgrows it; see
# compact_neardup_store for the re-bucket machinery pattern). The
# candidate probe prunes the store to the batch's buckets and verifies
# with the batch plan's own bucket-local BLAS GEMM (store rows carry
# the quantized vectors, like the SimHash store carries signatures), so
# no per-pair Catalyst folds appear; only pairs involving a batch
# vector are kept (GEMM scores whole bucket groups), which also makes
# replay exact under the usual epoch bound. Pair disjointness across
# epochs is structural as ever, so the union of deltas equals the batch
# embedding_cosine_neardup — its oracle is the gate.
#
# Like the SimHash store, ONE output commit per trigger: epoch K's
# fused write carries this epoch's bucket-row segment (kind=0) plus the
# PREVIOUS epoch's GEMM-verified pair delta (kind=1) — deferred one
# epoch so the isin pruning literals (the previous segment's bucket
# set, riding its own write's Observation) are already known with zero
# extra jobs, and always re-derivable from the committed segment on
# replay. A post-stream flush delivers the final epoch's delta.
INC_COSINE_EPOCHS = 4


def _cos_kind0(rows: DataFrame) -> DataFrame:
    """Bucket rows -> the fused store's full schema (kind=0)."""
    return rows.select(
        F.lit(0).alias("kind"),
        "vec_id",
        "e",
        "bucket",
        "bkt",
        F.lit(None).cast("bigint").alias("keep_id"),
        F.lit(None).cast("bigint").alias("dup_id"),
        F.lit(None).cast("double").alias("cosine"),
    )


def _cos_kind1(pairs: DataFrame) -> DataFrame:
    """Pair-delta rows -> the fused store's full schema (kind=1)."""
    return pairs.select(
        F.lit(1).alias("kind"),
        F.lit(None).cast("bigint").alias("vec_id"),
        F.lit(None).cast("array<bigint>").alias("e"),
        F.lit(None).cast("int").alias("bucket"),
        F.lit(None).cast("int").alias("bkt"),
        "keep_id",
        "dup_id",
        "cosine",
    )


def _cosine_delta(
    spark: SparkSession,
    seg_store: str,
    seg_epoch: int,
    seg_bkts: list[int] | None = None,
) -> DataFrame:
    """GEMM-verified pair delta of epoch ``seg_epoch``: the accumulated
    kind-0 bucket rows of epochs <= seg_epoch, pruned at the source to
    the segment's own bucket set, scored bucket-locally by the batch
    plan's BLAS GEMM, then semi-joined to the segment's vec_ids so only
    pairs involving that epoch's vectors survive (the GEMM scores whole
    bucket groups). A pure function of committed store content —
    replay-safe wherever it is (re)computed."""
    from pyspark.sql import types as T

    from ..operators.similarity import NEARDUP_COSINE

    seg = spark.read.parquet(seg_store).filter(
        (F.col("epoch") == seg_epoch) & (F.col("kind") == 0)
    )
    if seg_bkts is None:
        seg_bkts = [r[0] for r in seg.select("bkt").distinct().collect()]
    group_rows = (
        spark.read.parquet(seg_store)
        .filter(
            (F.col("epoch") <= seg_epoch)
            & (F.col("kind") == 0)
            & F.col("bkt").isin(seg_bkts)
        )
        .select("vec_id", "e", "bucket")
    )
    out_schema = T.StructType(
        [
            T.StructField("keep_id", T.LongType()),
            T.StructField("dup_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    thresh = NEARDUP_COSINE

    def score_bucket(pdf):
        # In-builder def: pickled by value (no executor-side import).
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(list(pdf["e"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / (norms[:, None] * norms[None, :])
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = cos[iu, ju] >= thresh
        return pd.DataFrame(
            {
                "keep_id": ids[iu[keep]],
                "dup_id": ids[ju[keep]],
                "cosine": cos[iu[keep], ju[keep]],
            }
        )

    seg_ids = seg.select(F.col("vec_id").alias("bid"))
    return (
        group_rows.groupBy("bucket")
        .applyInPandas(score_bucket, out_schema)
        .join(
            seg_ids.hint("broadcast"),
            (F.col("keep_id") == F.col("bid")) | (F.col("dup_id") == F.col("bid")),
            "left_semi",
        )
        .dropDuplicates(["keep_id", "dup_id"])
    )



def ingest_cosine_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    bits: int,
    store: str,
    prev_bkts: list[int] | None = None,
    skip_delta: bool = False,
) -> list[int]:
    """One cosine ingest epoch (module-level for replay testing):
    signature-stamp the batch (map-only GEMM) and make ONE fused write
    to ``store/epoch={epoch_id}`` carrying this epoch's bucket-row
    segment (kind=0, bkt-sorted) plus the PREVIOUS epoch's pair delta
    (kind=1, see _cosine_delta) — one output commit per trigger, an
    epoch-partition overwrite, so any replay reproduces its original
    outputs. Returns this segment's bucket set (riding an Observation
    on the fused write) for the next epoch's delta pruning."""
    from pyspark.sql import Observation

    from ..operators.similarity import _lsh_signatures, _quantize

    emb = batch_df.select("vec_id", _quantize("embedding").alias("e"))
    rows = (
        _lsh_signatures(emb, bits)
        .select("vec_id", "e", F.explode("buckets").alias("bucket"))
        .withColumn(
            "bkt", F.pmod(F.xxhash64("bucket"), F.lit(INC_STORE_BKTS)).cast("int")
        )
    )
    obs = Observation()
    out = _cos_kind0(rows).observe(
        obs, F.collect_set("bkt").alias("bkts")
    ).sortWithinPartitions("bkt")
    if epoch_id > 0 and not skip_delta:
        out = out.unionByName(
            _cos_kind1(_cosine_delta(spark, store, epoch_id - 1, prev_bkts))
        )
    out.write.option("parquet.block.size", INC_STORE_BLOCK).mode(
        "overwrite"
    ).parquet(f"{store}/epoch={epoch_id}")
    return obs.get["bkts"]


def flush_cosine_delta(
    spark: SparkSession,
    store: str,
    last_epoch: int,
    prev_bkts: list[int] | None = None,
) -> None:
    """Write the FINAL epoch's deferred pair delta once the stream
    drains, as a pairs-only partition at ``epoch={last_epoch + 1}``."""
    _cos_kind1(_cosine_delta(spark, store, last_epoch, prev_bkts)).write.mode(
        "overwrite"
    ).parquet(f"{store}/epoch={last_epoch + 1}")


def _register_incremental_cosine() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_cosine",
        lambda: _REG["embedding_cosine_neardup"].oracle,
    )
    def stream_incremental_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming semantic near-dup maintenance (see block comment):
        embeddings split into {INC_COSINE_EPOCHS} range files -> one per
        trigger -> per batch `ingest_cosine_epoch` (stateless signature
        stamp, bkt-pruned store probe, bucket-local GEMM verify, pair
        delta). Geometry (signature width) derives from the corpus
        count once, before streaming — production fixes it per segment
        generation. The union of per-epoch deltas is hash-gated equal
        to the batch embedding_cosine_neardup.

        Scale: per epoch the work is O(batch) stamping + a probe over
        the batch's buckets only; verification is the batch plan's own
        occupancy-bounded BLAS GEMM, never a per-pair fold; the corpus
        is never re-stamped after its arrival epoch."""
        from ..operators.similarity import _lsh_bits

        tune(spark)
        src = _e2e_tmpdir("alrs_cos_src_")
        store = _e2e_tmpdir("alrs_cos_store_")

        raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        bits = _lsh_bits(raw.count())
        raw.repartitionByRange(INC_COSINE_EPOCHS, "vec_id").write.mode(
            "overwrite"
        ).parquet(src)
        bkts: dict[int, list[int]] = {}

        def update(batch_df: DataFrame, epoch_id: int) -> None:
            bkts[epoch_id] = ingest_cosine_epoch(
                spark, batch_df, epoch_id, bits, store,
                prev_bkts=bkts.get(epoch_id - 1),
            )

        _drain(spark, src, [update], _e2e_tmpdir("alrs_cos_ckpt_"))
        last = INC_COSINE_EPOCHS - 1
        flush_cosine_delta(spark, store, last, prev_bkts=bkts.get(last))
        return (
            spark.read.parquet(store)
            .filter(F.col("kind") == 1)
            .select("keep_id", "dup_id", "cosine")
        )


_register_incremental_cosine()

# ---- Standing top-K maintenance ------------------------------------------
# A different state shape from the append-only/probe stores: a STANDING
# QUERY whose answer is a bounded set (the K best-quality documents seen
# so far), maintained by a versioned MONOTONE merge — state_K = topK(
# state_{K-1} UNION scores(batch)). Induction gives state_K = topK of
# everything ingested (topK(topK(A) UNION B) = topK(A UNION B) under the
# total (score DESC, doc_id ASC) order), so the final state equals the
# batch top-K, which is the oracle. Replay is idempotent because each
# epoch's state is written to its own version directory from its
# PREDECESSOR's (still on disk) plus the replayed batch — recomputing
# the same pure function. Per-epoch cost is O(batch + K): the window
# sees at most K + batch rows. This is the leaderboard/standing-query
# shape (continuous "best documents so far" dashboards) the
# dsir_topk_scalable threshold machinery serves in batch form.
TOPK_QUALITY_K = 100
INC_TOPK_EPOCHS = 4


def merge_topk_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, state_dir: str
) -> None:
    """One standing-top-K epoch (module-level for replay testing): score
    the batch (map-only per-doc expressions), union with the previous
    epoch's state version, keep the top {TOPK_QUALITY_K} under the total
    (quality_score DESC, doc_id ASC) order, and overwrite THIS epoch's
    state version."""
    from pyspark.sql.window import Window as W

    from ..operators.text import _quality_of

    cand = _quality_of(batch_df).select("doc_id", "quality_score")
    if epoch_id > 0:
        prev = spark.read.parquet(f"{state_dir}/epoch={epoch_id - 1}").select(
            "doc_id", "quality_score"
        )
        cand = cand.unionByName(prev)
    w = W.orderBy(F.col("quality_score").desc(), F.col("doc_id").asc())
    (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOPK_QUALITY_K)
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


def _register_stream_topk_quality() -> None:
    from ..plans.registry import QUERIES as _REG

    def _oracle() -> str:
        return f"""
        WITH base AS ({_REG["quality_score"].oracle})
        SELECT doc_id, quality_score, CAST(rank AS INT) AS rank
        FROM (
          SELECT doc_id, quality_score,
                 row_number() OVER (ORDER BY quality_score DESC, doc_id ASC) AS rank
          FROM base
        ) WHERE rank <= {TOPK_QUALITY_K}
        """

    @register("stream_topk_quality", _oracle)
    def stream_topk_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Standing top-{TOPK_QUALITY_K} quality documents under
        streaming ingest (see block comment): documents split into
        {INC_TOPK_EPOCHS} range files -> one per trigger -> per batch
        `merge_topk_epoch` (score, monotone merge with the previous
        state version, keep K). The final state version is hash-gated
        equal to the batch top-K over the whole corpus.

        Scale: per-epoch work is O(batch) scoring + a window over at
        most K + batch rows — corpus-size-independent state, the
        standing-query/leaderboard shape. The global window the batch
        form needs never materializes here at all. The state chain
        rides the fused doc stream (r19, _docs_stream)."""
        tune(spark)
        state_dir = _ensure_source_stream(spark, sf_dir, "docs")["topk"]
        return spark.read.parquet(f"{state_dir}/epoch={INC_TOPK_EPOCHS - 1}").select(
            "doc_id", "quality_score", "rank"
        )


_register_stream_topk_quality()






# ---- Standing drift monitor -----------------------------------------------
# The second standing-query member after stream_topk_quality, with a
# different state shape again: a MERGEABLE SUFFICIENT STATISTIC. Each
# micro-batch contributes only its own (segment, bin) histogram counts
# (fixed-width value-keyed bins — no global min/max pass, the 100 TB
# binning choice); the store is additive across epochs, so per-epoch
# work is O(batch) and replaying an epoch overwrites its own partition
# idempotently. Drift is evaluated AT QUERY TIME from the store: PSI of
# every later corpus segment against segment 0 (the reference window) —
# the production "distribution drift vs launch week" dashboard, fed by
# a stream instead of a batch rescan. Segment identity rides IN the
# rows ((doc_id * SEGS) div (max_doc_id + 1), geometry fixed from the
# corpus BEFORE streaming like the cosine store's bit count), so the
# monitor's answer is independent of file→trigger order.
INC_DRIFT_EPOCHS = 4
DRIFT_BIN_W = 64  # fixed n_chars bin width (value-keyed; no global range scan)


def ingest_drift_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One drift-monitor epoch (module-level for replay testing): bin the
    batch's documents by length and append the (seg, bin, cnt) histogram
    under this epoch's partition (idempotent overwrite)."""
    (
        batch_df.groupBy(
            "seg", F.expr(f"n_chars div {DRIFT_BIN_W}").alias("bin")
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .write.mode("overwrite")
        .parquet(f"{store}/epoch={epoch_id}")
    )


# Range-split (doc_id, lang, text) source files, built once per
# (session, fixture, epoch count): the doc stream's simulated arrival
# order, also read directly by the replay tests. The source dir is
# consumed read-only, so sharing is safe.
def _ensure_doc_split(spark: SparkSession, sf_dir: str, n: int) -> str:
    """Ascending-doc_id-range split of the documents corpus with
    STRICTLY INCREASING mtimes, so a maxFilesPerTrigger=1 stream
    ingests epoch k == range k (FileStreamSource orders by timestamp;
    repartitionByRange writes part files in range order, and any AQE
    coalescing merges CONTIGUOUS ranges, preserving ascending order).
    The packing stores depend on that order; the signature stores
    sharing the stream are order-independent."""
    import glob
    import os

    def build() -> str:
        src = _e2e_tmpdir("alrs_docsplit_")
        # lang rides along for the bodies that group by it (KMV, packing);
        # the doc_id/text-only bodies project it away, so parquet projection
        # never reads it for them.
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "text"
        )
        docs.repartitionByRange(n, "doc_id").write.mode("overwrite").parquet(src)
        base = 1_600_000_000
        for k, f in enumerate(sorted(glob.glob(f"{src}/part-*.parquet"))):
            os.utime(f, (base + k, base + k))
        return src

    return memo(spark, "doc_split", (sf_dir, n), build)


def _doc_nchars_stream(spark: SparkSession, sf_dir: str) -> dict[str, object]:
    """Documents' (doc_id, n_chars, seg) split into {INC_DRIFT_EPOCHS}
    ascending id ranges; per trigger the drift-histogram body. The store
    is SHARED by the PSI monitor, the KS monitor and the store
    quantiles — the point of a mergeable sufficient statistic is that
    any number of standing statistics read the same store."""
    src = _e2e_tmpdir("alrs_drift_src_")
    store = _e2e_tmpdir("alrs_drift_store_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    # Geometry (segment boundaries) fixed from the corpus BEFORE
    # streaming — 1-row bounded collect, the cosine-store pattern.
    mx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    docs.withColumn(
        "seg",
        F.expr(f"int((doc_id * {INC_DRIFT_EPOCHS}) div {int(mx) + 1})"),
    ).repartitionByRange(INC_DRIFT_EPOCHS, "doc_id").write.mode(
        "overwrite"
    ).parquet(src)
    _drain(
        spark,
        src,
        [_epoch_body(spark, ingest_drift_epoch, store)],
        _e2e_tmpdir("alrs_drift_ckpt_"),
    )
    return {"drift": store}


# The histogram-counts CTE both drift oracles share: rebuild the
# segmentation + binning the ingest performs, directly over documents.
def _drift_counts_cte() -> str:
    return f"""counts AS MATERIALIZED (
          SELECT (doc_id * {INC_DRIFT_EPOCHS})
                   // (SELECT MAX(doc_id) + 1 FROM documents) AS seg,
                 n_chars // {DRIFT_BIN_W} AS bin,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM documents
          GROUP BY 1, 2
        )"""


def _register_stream_drift_monitor() -> None:
    from ..operators.windows_sql import PSI_SCALE

    def _oracle_sql() -> str:
        per_seg = []
        for s in range(1, INC_DRIFT_EPOCHS):
            per_seg.append(
                f"""SELECT {s} AS seg,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(SUM(term_q) AS BIGINT) AS psi_q
      FROM (
        SELECT CAST(floor(
                 ((CAST(a + 1 AS DOUBLE) / (SUM(a) OVER () + COUNT(*) OVER ()))
                  - (CAST(b + 1 AS DOUBLE) / (SUM(b) OVER () + COUNT(*) OVER ())))
                 * (ln(CAST(a + 1 AS DOUBLE) / (SUM(a) OVER () + COUNT(*) OVER ()))
                  - ln(CAST(b + 1 AS DOUBLE) / (SUM(b) OVER () + COUNT(*) OVER ())))
                 * {PSI_SCALE}) AS BIGINT) AS term_q
        FROM (
          SELECT coalesce(r.c, 0) AS a, coalesce(s.c, 0) AS b
          FROM (SELECT bin, c FROM counts WHERE seg = 0) r
          FULL OUTER JOIN (SELECT bin, c FROM counts WHERE seg = {s}) s
            ON s.bin = r.bin
        )
      )"""
            )
        return f"""
        WITH {_drift_counts_cte()}
        SELECT CAST(seg AS INT) AS seg, n_bins, psi_q
        FROM ({" UNION ALL ".join("(" + p + ")" for p in per_seg)})
        """

    @register("stream_drift_monitor", _oracle_sql)
    def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Standing PSI drift monitor under streaming ingest (see block
        comment): documents land one id range per trigger; each
        epoch appends only its own fixed-width length-histogram counts
        (mergeable sufficient statistic, O(batch)); the final read
        computes PSI of every segment against segment 0 from the store
        alone — no corpus rescans, file→trigger order irrelevant.

        Scale: per-epoch state is ≤bins rows; query-time drift math
        touches only (segs × bins) rows. The same store serves any
        reference choice (previous-segment PSI, rolling windows)
        without re-reading documents."""
        store = _ensure_source_stream(spark, sf_dir, "doc_nchars")["drift"]

        # seg x bin cardinality rows, read per drift segment below and by
        # the returned frame — released by the harness after consumption.
        counts = defer_unpersist(
            spark.read.parquet(store)
            .groupBy("seg", "bin")
            .agg(F.sum("cnt").cast("bigint").alias("c"))
            .persist()
        )
        ref = counts.filter(F.col("seg") == 0).select("bin", F.col("c").alias("a"))
        out = None
        for s in range(1, INC_DRIFT_EPOCHS):
            cur = counts.filter(F.col("seg") == s).select(
                "bin", F.col("c").alias("b")
            )
            pair = ref.join(cur, "bin", "full_outer").select(
                F.coalesce("a", F.lit(0)).alias("a"),
                F.coalesce("b", F.lit(0)).alias("b"),
            )
            tot = pair.agg(
                F.sum("a").cast("bigint").alias("na"),
                F.sum("b").cast("bigint").alias("nb"),
                F.count("*").cast("bigint").alias("k"),
            )
            sa = (F.col("a").cast("double") + 1) / (F.col("na") + F.col("k"))
            sb = (F.col("b").cast("double") + 1) / (F.col("nb") + F.col("k"))
            from ..operators.windows_sql import PSI_SCALE as _PS

            terms = pair.crossJoin(F.broadcast(tot)).select(
                F.floor(((sa - sb) * (F.log(sa) - F.log(sb))) * _PS)
                .cast("bigint")
                .alias("term_q")
            )
            seg_row = terms.agg(
                F.count("*").cast("bigint").alias("n_bins"),
                F.sum("term_q").cast("bigint").alias("psi_q"),
            ).select(F.lit(s).cast("int").alias("seg"), "n_bins", "psi_q")
            out = seg_row if out is None else out.unionByName(seg_row)
        return out


_register_stream_drift_monitor()


def _register_stream_drift_monitor_ks() -> None:
    from ..operators.windows_sql import KS_SCALE

    def _oracle_sql() -> str:
        per_seg = []
        for s in range(1, INC_DRIFT_EPOCHS):
            per_seg.append(
                f"""SELECT {s} AS seg,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             MAX(CAST(floor(abs(CAST(cum_a AS DOUBLE) / na
                                - CAST(cum_b AS DOUBLE) / nb) * {KS_SCALE})
                      AS BIGINT)) AS ks_q
      FROM (
        SELECT SUM(a) OVER (ORDER BY bin ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
               SUM(b) OVER (ORDER BY bin ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
               SUM(a) OVER () AS na,
               SUM(b) OVER () AS nb
        FROM (
          SELECT coalesce(r.bin, s.bin) AS bin,
                 coalesce(r.c, 0) AS a, coalesce(s.c, 0) AS b
          FROM (SELECT bin, c FROM counts WHERE seg = 0) r
          FULL OUTER JOIN (SELECT bin, c FROM counts WHERE seg = {s}) s
            ON s.bin = r.bin
        )
      )"""
            )
        return f"""
        WITH {_drift_counts_cte()}
        SELECT CAST(seg AS INT) AS seg, n_bins, ks_q
        FROM ({" UNION ALL ".join("(" + p + ")" for p in per_seg)})
        """

    from pyspark.sql.window import Window as W

    @register("stream_drift_monitor_ks", _oracle_sql)
    def stream_drift_monitor_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Kolmogorov-Smirnov drift beside the PSI monitor, over the
        SAME mergeable histogram store (_doc_nchars_stream — built
        once per session, consumed by both standing statistics; that
        sharing is the point of keeping a sufficient statistic rather
        than a computed score). Per segment s vs reference segment 0:
        D = max over bins of |ECDF_ref - ECDF_s| on the binned length
        distribution — the nonparametric complement to PSI's smoothed
        divergence (PSI reacts to mass ratios, KS to cumulative gaps).

        Exactness follows ks_two_sample: exact int cumulative counts,
        two correctly-rounded divisions, the gap floored to
        {KS_SCALE}-units per bin BEFORE the max — reduction-order-
        independent, hash-gated.

        Scale: query-time math touches (segs x bins) store rows; the
        cumulative window orders BINS (fixed-width histogram support,
        bounded by data range / {DRIFT_BIN_W}), not documents."""
        store = _ensure_source_stream(spark, sf_dir, "doc_nchars")["drift"]
        counts = defer_unpersist(
            spark.read.parquet(store)
            .groupBy("seg", "bin")
            .agg(F.sum("cnt").cast("bigint").alias("c"))
            .persist()
        )
        ref = counts.filter(F.col("seg") == 0).select(
            F.col("bin").alias("rbin"), F.col("c").alias("a")
        )
        out = None
        for s in range(1, INC_DRIFT_EPOCHS):
            cur = counts.filter(F.col("seg") == s).select(
                F.col("bin").alias("sbin"), F.col("c").alias("b")
            )
            pair = ref.join(
                cur, F.col("sbin") == F.col("rbin"), "full_outer"
            ).select(
                F.coalesce("rbin", "sbin").alias("bin"),
                F.coalesce("a", F.lit(0)).alias("a"),
                F.coalesce("b", F.lit(0)).alias("b"),
            )
            wcum = W.orderBy(F.col("bin").asc()).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
            tot = pair.agg(
                F.sum("a").cast("bigint").alias("na"),
                F.sum("b").cast("bigint").alias("nb"),
            )
            cum = pair.select(
                F.sum("a").over(wcum).alias("cum_a"),
                F.sum("b").over(wcum).alias("cum_b"),
            )
            gap_q = F.floor(
                F.abs(
                    F.col("cum_a").cast("double") / F.col("na")
                    - F.col("cum_b").cast("double") / F.col("nb")
                )
                * KS_SCALE
            ).cast("bigint")
            seg_row = (
                cum.crossJoin(F.broadcast(tot))
                .select(gap_q.alias("gap_q"))
                .agg(
                    F.count("*").cast("bigint").alias("n_bins"),
                    F.max("gap_q").alias("ks_q"),
                )
                .select(F.lit(s).cast("int").alias("seg"), "n_bins", "ks_q")
            )
            out = seg_row if out is None else out.unionByName(seg_row)
        return out


_register_stream_drift_monitor_ks()


INC_STORE_QUANTILES = 8  # B-quantile boundaries derived from the store


def _register_stream_store_quantiles() -> None:
    def _oracle_sql() -> str:
        return f"""
        WITH {_drift_counts_cte()},
        merged AS (
          SELECT bin, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY bin
        ),
        cum AS (
          SELECT bin,
                 SUM(n) OVER (ORDER BY bin ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
                 SUM(n) OVER () AS tot
          FROM merged
        )
        SELECT CAST(k AS INT) AS k,
               CAST(MIN(bin) AS BIGINT) AS bin,
               CAST(MIN(bin) * {DRIFT_BIN_W} AS BIGINT) AS v_lo
        FROM cum, LATERAL (
          SELECT unnest(generate_series(1, {INC_STORE_QUANTILES - 1})) AS k
        )
        WHERE cn * {INC_STORE_QUANTILES} >= k * tot
        GROUP BY k
        """

    from pyspark.sql.window import Window as W

    @register("stream_store_quantiles", _oracle_sql)
    def stream_store_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Approximate corpus quantiles served FROM the standing
        histogram store — the third consumer of _doc_nchars_stream
        (after the PSI and KS monitors), and the t-digest-style payoff
        of keeping a mergeable sufficient statistic: {INC_STORE_QUANTILES}-quantile
        boundaries of the document-length distribution computed from
        bin counts alone, no document rescans, answerable at any time
        during ingest. Boundary k = the first bin whose cumulative
        count reaches k/B of the total (integer cross-multiplication —
        no division, so both engines agree exactly); the reported value
        is the bin's lower edge (resolution = the bin width, the
        documented accuracy contract of histogram quantiles).

        Scale: query-time math touches one row per OCCUPIED BIN
        (bounded by data range / {DRIFT_BIN_W}); the cumulative window
        orders bins, not documents; the k-range is a {INC_STORE_QUANTILES - 1}-row
        broadcast."""
        store = _ensure_source_stream(spark, sf_dir, "doc_nchars")["drift"]
        merged = (
            spark.read.parquet(store)
            .groupBy("bin")
            .agg(F.sum("cnt").cast("bigint").alias("n"))
        )
        wcum = W.orderBy(F.col("bin").asc()).rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        cum = merged.select(
            "bin",
            F.sum("n").over(wcum).alias("cn"),
            F.sum("n").over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("tot"),
        )
        ks = spark.range(1, INC_STORE_QUANTILES).select(F.col("id").alias("k"))
        return (
            cum.crossJoin(F.broadcast(ks))
            .filter(F.col("cn") * INC_STORE_QUANTILES >= F.col("k") * F.col("tot"))
            .groupBy("k")
            .agg(
                F.min("bin").cast("bigint").alias("bin"),
                (F.min("bin") * DRIFT_BIN_W).cast("bigint").alias("v_lo"),
            )
            .select(F.col("k").cast("int").alias("k"), "bin", "v_lo")
        )


_register_stream_store_quantiles()


# ---- Standing KMV distinct sketch -----------------------------------------
# Tenth/eleventh members of the incremental family: two MERGEABLE
# SKETCHES maintained under streaming ingest, each with a different
# merge law. The KMV store is a MONOTONE top-K merge like
# stream_topk_quality (kmvK(kmvK(A) u B) = kmvK(A u B) — the k SMALLEST
# hashes survive any merge order), so each state version holds at most
# K hashes per language and the final version equals the batch sketch
# over the whole corpus. The CMS store below is LINEAR (counters add),
# so per-epoch sketches merge exactly by summing per (i, bucket).
# Together they cover the two algebraic classes every production
# sketch falls into — order statistics and linear counters.
STREAM_KMV_K = 256
INC_KMV_EPOCHS = 4


def merge_kmv_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, state_dir: str
) -> None:
    """One KMV merge epoch (module-level for replay testing): sketch the
    batch's per-language token hashes, merge with the PREDECESSOR state
    version (still on disk), keep the {STREAM_KMV_K} smallest per
    language, write this epoch's version — a pure function of
    (batch, predecessor), so replaying any epoch rewrites identical
    state. O(batch + langs x K) per epoch."""
    from ..functions.scalar import hex_hash64, norm_text
    from pyspark.sql.window import Window as W

    toks = batch_df.select(
        "lang",
        F.explode(F.array_distinct(F.split(norm_text("text"), " "))).alias("tok"),
    )
    cur = toks.select(
        "lang", hex_hash64(F.col("tok"), salt="skmv|").alias("hv")
    ).distinct()
    if epoch_id > 0:
        prev = spark.read.parquet(f"{state_dir}/epoch={epoch_id - 1}").select(
            "lang", "hv"
        )
        cur = prev.unionByName(cur).distinct()
    w = W.partitionBy("lang").orderBy(F.col("hv").asc())
    (
        cur.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STREAM_KMV_K)
        .select("lang", "hv")
        .write.mode("overwrite")
        .parquet(f"{state_dir}/epoch={epoch_id}")
    )


def _register_stream_kmv_distinct() -> None:
    @register(
        "stream_kmv_distinct",
        f"""
        WITH toks AS (
          SELECT DISTINCT lang, t.tok
          FROM documents, LATERAL (
            SELECT unnest(string_split(
              lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
          ) t
        ),
        hv AS (
          SELECT DISTINCT lang,
                 CAST(concat('0x', substr(md5(concat('skmv|', tok)), 1, 15)) AS BIGINT) AS hv
          FROM toks
        ),
        sk AS (
          SELECT lang, hv FROM (
            SELECT lang, hv,
                   row_number() OVER (PARTITION BY lang ORDER BY hv ASC) AS rn
            FROM hv
          ) WHERE rn <= {STREAM_KMV_K}
        ),
        stats AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(hv) AS kth
          FROM sk GROUP BY lang
        ),
        exact AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS exact_distinct
          FROM toks GROUP BY lang
        )
        SELECT e.lang, e.exact_distinct, s.n_kept,
               CAST(CASE WHEN s.n_kept < {STREAM_KMV_K} THEN s.n_kept
                    ELSE floor(({STREAM_KMV_K} - 1) * 1152921504606846976.0 / s.kth)
                    END AS BIGINT) AS kmv_estimate
        FROM exact e JOIN stats s ON s.lang = e.lang
        """,
    )
    def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Standing per-language distinct-vocabulary estimate under
        streaming ingest (see block comment): documents arrive one
        range file per trigger; each epoch merges the batch's token
        hashes into the KMV state monotonely (merge_kmv_epoch). The
        final state version IS the corpus sketch — hash-gated equal to
        the batch-built KMV (estimate formula included) next to the
        exact distinct counts (the audit side production drops).

        Scale: state is {STREAM_KMV_K} hashes per language regardless
        of corpus size; per-epoch work is O(batch) hashing + a window
        over at most langs x (K + batch-vocab) rows. The exact side
        rescans the corpus only because the audit demands it. The
        state chain rides the fused doc stream (r19,
        _docs_stream)."""
        tune(spark)
        state_dir = _ensure_source_stream(spark, sf_dir, "docs")["kmv"]
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "text"
        )
        from ..functions.scalar import norm_text

        state = spark.read.parquet(f"{state_dir}/epoch={INC_KMV_EPOCHS - 1}")
        stats = state.groupBy("lang").agg(
            F.count("*").cast("bigint").alias("n_kept"), F.max("hv").alias("kth")
        )
        est = (
            F.when(F.col("n_kept") < STREAM_KMV_K, F.col("n_kept"))
            .otherwise(
                F.floor(
                    (STREAM_KMV_K - 1)
                    * F.lit(1152921504606846976.0)
                    / F.col("kth")
                )
            )
            .cast("bigint")
        )
        exact = (
            docs.select(
                "lang",
                F.explode(
                    F.array_distinct(F.split(norm_text("text"), " "))
                ).alias("tok"),
            )
            .distinct()
            .groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("exact_distinct"))
        )
        return exact.join(stats, "lang").select(
            "lang", "exact_distinct", "n_kept", est.alias("kmv_estimate")
        )


_register_stream_kmv_distinct()


# ---- Streaming CMS heavy-hitters store ------------------------------------
INC_CMS_EPOCHS = 4


def ingest_cms_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One CMS ingest epoch (module-level for replay testing): build the
    batch's own count-min counters (bounded DEPTH x WIDTH rows) and
    overwrite this epoch's partition — map-side-combined groupBys, no
    state read at all (the linear-merge law makes read-free ingest
    possible: counters add at query time)."""
    from ..functions.scalar import norm_text
    from ..operators.sketches import _cms_of

    tokens = batch_df.select(F.explode(F.split(norm_text("text"), " ")).alias("token"))
    _cms_of(tokens).write.mode("overwrite").parquet(f"{store}/epoch={epoch_id}")


def _register_stream_cms() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_heavy_hitters_cms",
        lambda: _REG["heavy_hitters_cms"].oracle,
    )
    def stream_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Heavy hitters from a STREAM-MAINTAINED count-min store (see
        the KMV block comment): each arriving batch appends only its own
        DEPTH x WIDTH counter sketch (ingest_cms_epoch — no state read,
        the purest possible ingest); at query time the per-epoch
        sketches merge EXACTLY by summing counters per (i, bucket)
        because CMS is linear, and the merged frame feeds the batch
        query's own report (_cms_report). Hash-gated equal to the batch
        heavy_hitters_cms — the proof that per-shard sketch + additive
        merge loses nothing, which is precisely how a 1000-executor
        deployment builds this sketch.

        Scale: per-epoch state written is bounded (DEPTH x WIDTH rows)
        regardless of batch or corpus size; the merge touches
        epochs x DEPTH x WIDTH counter rows; the exact audit side in
        the report is what production drops. The counter store rides
        the fused doc stream (r19, _docs_stream)."""
        from ..functions.scalar import norm_text
        from ..operators.sketches import _cms_report

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "docs")["cms"]
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        merged = (
            spark.read.parquet(store)
            .groupBy("i", "bucket")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )
        tokens = docs.select(
            F.explode(F.split(norm_text("text"), " ")).alias("token")
        )
        return _cms_report(tokens, merged)


_register_stream_cms()


# ---- Incremental skyline (Pareto-frontier) maintenance -------------------
# Ninth store kind, and the smallest-state one: the 2-D frontier is a
# monotone staircase, so per epoch the new frontier is
# skyline(previous frontier ∪ arriving batch) — previous NON-frontier
# points can never re-enter (dominated once, dominated forever), so the
# store holds one tiny coordinate snapshot per epoch, not the corpus.
INC_SKY_EPOCHS = 4


def ingest_skyline_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One frontier-maintenance epoch (module-level so replay
    idempotence is directly testable): new snapshot = staircase
    recurrence over (epoch_id−1 snapshot ∪ the batch's coordinates),
    written as this epoch's partition. The input pair — the frozen
    previous snapshot and the frozen source file — makes the output a
    pure function of epoch_id, so any replay rewrites identical bytes.

    Scale: O(batch + frontier) per epoch; the corpus is never
    rescanned, and the snapshot is bounded by the frontier size (tiny
    for correlated 2-D data), not the ingested volume."""
    from ..operators.relational import _skyline_coords

    pts = batch_df.select("p_retailprice", "p_size")
    if epoch_id > 0:
        prev = spark.read.parquet(f"{store}/epoch={epoch_id - 1}").select(
            F.col("price").alias("p_retailprice"),
            F.col("ms").alias("p_size"),
        )
        pts = pts.unionByName(prev)
    _skyline_coords(pts).write.mode("overwrite").parquet(
        f"{store}/epoch={epoch_id}"
    )


def _register_incremental_skyline() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_skyline",
        lambda: _REG["pareto_skyline_parts"].oracle,
    )
    def stream_incremental_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming Pareto-frontier maintenance (see block comment):
        the part dimension splits into {INC_SKY_EPOCHS} range files ->
        one per trigger -> per batch the frontier snapshot advances by
        the staircase recurrence over (previous snapshot ∪ batch); the
        final snapshot joined back to the dimension equals the batch
        skyline — pareto_skyline_parts' NOT-EXISTS oracle, so the hash
        gate proves incremental == batch. This is the dominance analog
        of the monotone top-K store: state is the ANSWER's size, not
        the corpus'.

        Scale: per epoch O(batch + frontier); replay-idempotent
        (pure function of epoch_id — test-locked)."""
        tune(spark)
        src = _e2e_tmpdir("alrs_sky_src_")
        store = _e2e_tmpdir("alrs_sky_store_")

        p = spark.read.parquet(f"{sf_dir}/part.parquet")
        p.repartitionByRange(INC_SKY_EPOCHS, "p_partkey").write.mode(
            "overwrite"
        ).parquet(src)
        _drain(
            spark,
            src,
            [_epoch_body(spark, ingest_skyline_epoch, store)],
            _e2e_tmpdir("alrs_sky_ckpt_"),
        )

        coords = spark.read.parquet(f"{store}/epoch={INC_SKY_EPOCHS - 1}")
        return (
            p.join(
                F.broadcast(coords),
                (F.col("p_retailprice") == F.col("price"))
                & (F.col("p_size").cast("double") == F.col("ms")),
            )
            .select(
                F.col("p_partkey").cast("bigint").alias("p_partkey"),
                "p_name",
                "p_retailprice",
                F.col("p_size").cast("int").alias("p_size"),
            )
        )


_register_incremental_skyline()


# ---- Incremental 3-D frontier maintenance --------------------------------
# The 3-D sibling of the skyline store: same monotone-state argument
# (dominated once, dominated forever — frontier(prev ∪ batch) is
# order- and boundary-independent), but the snapshot recurrence runs
# the general dominance anti-join (_skyline3d_coords) instead of the
# 2-D staircase, which does not exist with a third criterion.
INC_SKY3D_EPOCHS = 4


def ingest_skyline3d_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One 3-D frontier-maintenance epoch (module-level so replay
    idempotence is directly testable): new snapshot =
    _skyline3d_coords(epoch_id−1 snapshot ∪ the batch's criteria
    triples), written as this epoch's partition — a pure function of
    (frozen previous snapshot, frozen source file), so any replay
    rewrites identical bytes. O(batch + frontier) per epoch; the
    corpus is never rescanned and the snapshot is frontier-sized."""
    from ..operators.relational import _skyline3d_coords

    pts = batch_df.select(
        F.col("l_extendedprice").alias("p"),
        F.col("l_tax").alias("x"),
        F.col("l_discount").alias("d"),
    )
    if epoch_id > 0:
        prev = spark.read.parquet(f"{store}/epoch={epoch_id - 1}").select(
            "p", "x", "d"
        )
        pts = pts.unionByName(prev)
    _skyline3d_coords(pts).write.mode("overwrite").parquet(
        f"{store}/epoch={epoch_id}"
    )


def _register_incremental_skyline3d() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_skyline3d",
        lambda: _REG["pareto_skyline_lineitem_3d"].oracle,
    )
    def stream_incremental_skyline3d(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Streaming 3-D Pareto-frontier maintenance (see block
        comment): the fact table splits into {INC_SKY3D_EPOCHS} range
        files -> one per trigger -> per batch the frontier snapshot
        advances by frontier(previous snapshot ∪ batch) under the
        general dominance anti-join; the final snapshot joined back to
        the fact equals the batch 3-D skyline — the same NOT-EXISTS
        oracle as pareto_skyline_lineitem_3d, so the hash gate proves
        incremental == batch. State stays the ANSWER's size however
        large the ingested volume grows.

        Scale: per epoch O(batch + frontier); replay-idempotent (pure
        function of epoch_id — test-locked, the skyline-store
        pattern)."""
        tune(spark)
        src = _e2e_tmpdir("alrs_sky3d_src_")
        store = _e2e_tmpdir("alrs_sky3d_store_")

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_discount",
            "l_tax",
        )
        li.repartitionByRange(INC_SKY3D_EPOCHS, "l_orderkey").write.mode(
            "overwrite"
        ).parquet(src)
        _drain(
            spark,
            src,
            [_epoch_body(spark, ingest_skyline3d_epoch, store)],
            _e2e_tmpdir("alrs_sky3d_ckpt_"),
        )

        coords = spark.read.parquet(
            f"{store}/epoch={INC_SKY3D_EPOCHS - 1}"
        ).select("p", "x", "d")
        return (
            li.join(
                F.broadcast(coords),
                (F.col("l_extendedprice") == F.col("p"))
                & (F.col("l_tax") == F.col("x"))
                & (F.col("l_discount") == F.col("d")),
            )
            .select(
                F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
                F.col("l_linenumber").cast("int").alias("l_linenumber"),
                "l_extendedprice",
                "l_discount",
                "l_tax",
            )
        )


_register_incremental_skyline3d()


# ---- Incremental moment-matrix (Gram) maintenance ------------------------
# Tenth store kind, and the purest mergeable one: second moments are
# additive over ANY row partition, so each epoch appends its batch's
# 64x64 partial Gram and the standing principal direction re-derives
# from the summed store at query time — the streaming form of a
# PCA/whitening statistic over an embedding firehose.
INC_GRAM_EPOCHS = 4


def ingest_gram_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One moment-matrix epoch (module-level for the replay test): the
    batch's partial Gram — one GEMM per Arrow batch, map-side-combined
    to DIM² cells — overwrites this epoch's partition. A pure function
    of the frozen batch file: replay rewrites identical bytes. O(batch)
    work, DIM² output rows, no state read at all."""
    from ..operators.similarity import _gram_partials

    _gram_partials(batch_df).write.mode("overwrite").parquet(
        f"{store}/epoch={epoch_id}"
    )


def _ensure_emb_segment_split(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic id-segment split of the embedding corpus: one
    parquet file per segment (segment = vec_id div ceil((max_id + 1) /
    {INC_GRAM_EPOCHS})), mtimes strictly increasing so a
    maxFilesPerTrigger=1 FileStreamSource ingests epoch k == segment k
    exactly. Memoized per (session, fixture); SHARED by the gram
    ingest (whose drift oracle is defined over id prefixes) and the
    drift-triggered IVF refresh (whose retrain bound must equal the
    ids ingested through the trigger epoch). Width derives from the id
    RANGE, not COUNT (the r13 sparse-id lesson — see the gram block
    comment)."""
    import glob
    import math
    import os
    import shutil

    from ..operators.similarity import _quantize

    def build() -> str:
        tune(spark)
        staging = _e2e_tmpdir("alrs_embseg_stage_")
        src = _e2e_tmpdir("alrs_embseg_src_")

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", _quantize("embedding").alias("e")
        )
        mx = emb.agg(F.max("vec_id").alias("m")).collect()[0]["m"]
        w = math.ceil((int(mx) + 1) / INC_GRAM_EPOCHS)
        (
            emb.withColumn("seg", F.floor(F.col("vec_id") / w).cast("int"))
            .repartition(INC_GRAM_EPOCHS, "seg")
            .write.mode("overwrite")
            .partitionBy("seg")
            .parquet(staging)
        )
        # Flatten to one file per segment with strictly increasing mtimes:
        # FileStreamSource orders by timestamp, so epoch k ingests exactly
        # id-segment k (partitionBy + repartition on seg puts each segment
        # in one task => one file per segment dir).
        base = 1_600_000_000
        empty_src: str | None = None
        for k in range(INC_GRAM_EPOCHS):
            fs = glob.glob(f"{staging}/seg={k}/part-*.parquet")
            dst = f"{src}/part-{k:05d}.parquet"
            if len(fs) == 1:
                shutil.move(fs[0], dst)
            else:
                # Sparse vec_ids can leave a segment EMPTY — emit an empty
                # epoch k to keep epoch == segment (see gram block comment).
                assert not fs, f"segment {k}: expected at most one file, got {fs}"
                if empty_src is None:
                    edir = _e2e_tmpdir("alrs_embseg_empty_")
                    emb.limit(0).coalesce(1).write.mode("overwrite").parquet(edir)
                    empty_src = glob.glob(f"{edir}/part-*.parquet")[0]
                shutil.copy(empty_src, dst)
            os.utime(dst, (base + k, base + k))
        return src

    return memo(spark, "emb_segment_split", (sf_dir,), build)


def _register_incremental_gram() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_gram_pc",
        lambda: _REG["gram_power_iteration"].oracle,
    )
    def stream_incremental_gram_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming moment-matrix maintenance (see block comment): the
        embedding corpus splits into {INC_GRAM_EPOCHS} deterministic
        id-segment files -> one per trigger -> per batch
        ingest_gram_epoch appends the batch's DIM² partial Gram; at
        query time the store sums across epochs (exact — moments are
        additive) and the driver runs the same exact-integer power
        iteration as the batch plan. Hash-gated equal to
        gram_power_iteration, proving store-summed == one-pass. The
        ingest is SHARED with stream_gram_drift_monitor (see
        _emb_segment_stream).

        Scale: per epoch O(batch) GEMM + a DIM²-row write; the standing
        query reads DIM²·epochs rows however large the corpus grows —
        the moment store IS the sufficient statistic."""
        from pyspark.sql import types as T

        import pandas as pd

        from ..operators.similarity import DIM, _gram_iterate

        store = _ensure_source_stream(spark, sf_dir, "emb_segment")["gram"]
        g_rows = (
            spark.read.parquet(store)
            .groupBy("gi", "gj")
            .agg(F.sum("g").cast("bigint").alias("g"))
            .collect()
        )
        v = _gram_iterate(g_rows)
        out = pd.DataFrame({"dim": list(range(1, DIM + 1)), "pc": v})
        schema = T.StructType(
            [T.StructField("dim", T.IntegerType()), T.StructField("pc", T.LongType())]
        )
        return spark.createDataFrame(out, schema=schema)

    @register(
        "stream_gram_drift_monitor",
        lambda: _REG["gram_direction_drift"].oracle,
    )
    def stream_gram_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming spectral-drift monitor — the store consumer that
        turns gram_direction_drift from a batch instrument into a
        standing one: after each epoch the moment store holds that
        segment's DIM² partial Gram, so the cumulative direction at
        epoch k is re-derivable from the store's epoch≤k rows alone;
        this query reads the fully-ingested store, reconstructs the
        per-epoch cumulative directions, and emits the consecutive-
        direction cosine series (the stale-rotation trigger that tells
        stream_incremental_ivf_refresh WHEN to retrain — previously
        taken on faith). Oracle = the batch drift CTE restricted to
        id-prefix checkpoints, which the deterministic segment split
        makes identical to epoch prefixes (hash gate proves
        store-replayed == one-pass batch).

        Scale: reads DIM²·epochs store rows — never the corpus; all
        iteration state is the established bounded driver spectrum."""
        from ..operators.similarity import GRAM_DRIFT_STEPS, _drift_series

        assert GRAM_DRIFT_STEPS == INC_GRAM_EPOCHS, (
            "drift checkpoints must equal store epochs for the shared oracle"
        )
        store = _ensure_source_stream(spark, sf_dir, "emb_segment")["gram"]
        rows = (
            spark.read.parquet(store)
            .groupBy("epoch", "gi", "gj")
            .agg(F.sum("g").cast("bigint").alias("g"))
            .collect()
        )
        by_seg: dict[int, dict] = {}
        for r in rows:
            by_seg.setdefault(int(r["epoch"]), {})[(r["gi"], r["gj"])] = r["g"]
        return _drift_series(spark, by_seg, GRAM_DRIFT_STEPS)


_register_incremental_gram()


# ---- Incremental graph-ANN edge maintenance (12th store kind) -------------
# The kNN graph behind embedding_graph_ann_topk, maintained per epoch:
# insertion's candidate set is exactly the arriving node's probe
# buckets (the neardup-store pattern applied to the graph build), so
# each epoch pays one per-cell GEMM between the arrivals and the
# touched cells' members-so-far — never an all-pairs or full-store
# rebuild. Losslessness of the per-epoch prunes follows the same
# subset argument the batch build documents (_gann_edges): a pair in
# the FINAL per-src top-G is in the top-G of every candidate subset
# containing it — per-cell-per-epoch, per-(src, epoch), and the final
# global rank are each such subsets, so the resolved graph equals the
# batch graph exactly, and the search over it is hash-gated against
# embedding_graph_ann_topk's own oracle (training + build + traversal
# + ranking).
INC_GANN_EPOCHS = 4


def _gann_delta_edges(members: DataFrame, epoch_id: int) -> DataFrame:
    """Per-cell candidate-edge delta for one graph-ANN epoch:
    ``members`` holds (vec_id, e, cell, epoch) for every posting in the
    cells the batch probed, epochs ≤ epoch_id; rows with epoch ==
    epoch_id are the arrivals. Per cell, ONE GEMM scores arrivals ×
    members; each arrival emits its top-{GANN_DEG} out-edges over the
    cell's membership-so-far, and each EXISTING member emits its
    top-{GANN_DEG} over the arrivals (the back-edges insertion owes —
    a new node can enter an old node's neighborhood). Cells then dedupe
    and a per-src rank prunes the delta to top-{GANN_DEG} — all
    lossless subset prunes (see block comment). Ties break
    (cos DESC, dst ASC) exactly as the batch build and the oracle."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window as W

    from ..operators.similarity import GANN_DEG

    schema = T.StructType(
        [
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def delta(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "src": pd.Series(dtype="int64"),
                "dst": pd.Series(dtype="int64"),
                "cos": pd.Series(dtype="float64"),
            }
        )
        n = len(pdf)
        new_mask = (pdf["epoch"].to_numpy().astype("int64")) == epoch_id
        if n < 2 or not new_mask.any():
            return empty
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(list(pdf["e"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        new_idx = np.flatnonzero(new_mask)
        old_idx = np.flatnonzero(~new_mask)
        # arrivals × all members — the only GEMM this epoch pays here
        cos_new = (mat[new_idx] @ mat.T) / (
            norms[new_idx][:, None] * norms[None, :]
        )
        # r18 (guide §4.2): whole-matrix lexsorts replace the per-row
        # Python loops + list appends — identical keys (cos DESC,
        # dst ASC), identical row sets (order of emitted rows is
        # irrelevant: downstream dedupes and re-ranks).
        m = len(new_idx)
        cos_a = cos_new.copy()
        cos_a[np.arange(m), new_idx] = -np.inf  # exclude self
        k1 = min(GANN_DEG, n - 1)
        order1 = np.lexsort(
            (np.broadcast_to(ids, cos_a.shape), -cos_a), axis=-1
        )[:, :k1]
        parts = [
            (
                np.repeat(ids[new_idx], k1),
                ids[order1].ravel(),
                np.take_along_axis(cos_a, order1, axis=1).ravel(),
            )
        ]
        if len(old_idx):
            new_ids = ids[new_idx]
            cos_b = cos_new[:, old_idx].T  # (n_old, m): old src x new cand
            k2 = min(GANN_DEG, m)
            order2 = np.lexsort(
                (np.broadcast_to(new_ids, cos_b.shape), -cos_b), axis=-1
            )[:, :k2]
            parts.append(
                (
                    np.repeat(ids[old_idx], k2),
                    new_ids[order2].ravel(),
                    np.take_along_axis(cos_b, order2, axis=1).ravel(),
                )
            )
        return pd.DataFrame(
            {
                "src": np.concatenate([p[0] for p in parts]),
                "dst": np.concatenate([p[1] for p in parts]),
                "cos": np.concatenate([p[2] for p in parts]),
            }
        )

    cands = (
        members.groupBy("cell")
        .applyInPandas(delta, schema=schema)
        .dropDuplicates(["src", "dst"])
    )
    w = W.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst").asc())
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= GANN_DEG)
        .drop("rk")
    )


def ingest_gann_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    postings: str,
    edges_dir: str,
    ids,
    cent,
) -> None:
    """One graph-ANN maintenance epoch (module-level so replay
    idempotence is directly testable): multi-probe-assign the batch
    against the frozen offline quantizer and overwrite this epoch's
    postings segment (cell-sorted, small row groups — the signature-
    store layout); then compute the candidate-edge delta from the
    batch's own probed cells (the `cell isin` filter prunes the store
    read to touched cells; epochs STRICTLY AFTER this one are excluded
    so replay after later commits reproduces the original delta) and
    overwrite this epoch's edge partition. Both writes are pure
    functions of (frozen earlier store, frozen source file) —
    idempotent under any replay order."""
    from pyspark.sql import Observation

    from ..operators.similarity import GANN_BUILD_PROBE, _probe_assign

    obs = Observation()
    _probe_assign(batch_df, ids, cent, GANN_BUILD_PROBE).observe(
        obs, F.collect_set("cell").alias("cells")
    ).sortWithinPartitions("cell").write.option(
        "parquet.block.size", INC_STORE_BLOCK
    ).mode("overwrite").parquet(f"{postings}/epoch={epoch_id}")
    batch_cells = obs.get["cells"]
    members = spark.read.parquet(postings).filter(
        (F.col("epoch") <= epoch_id) & F.col("cell").isin(batch_cells)
    )
    _gann_delta_edges(members, epoch_id).write.mode("overwrite").parquet(
        f"{edges_dir}/epoch={epoch_id}"
    )


def resolve_gann_graph(spark: SparkSession, edges_dir: str) -> DataFrame:
    """Edge store → the standing kNN graph: per-src top-{GANN_DEG} over
    the accumulated candidate deltas, then symmetrize — exactly the
    batch build's final two steps, over a candidate set that provably
    contains every batch-surviving pair (subset argument). The store
    holds ≤ epochs × {GANN_DEG} rows per src, so the resolve is
    answer-sized work, never a corpus rescan."""
    from pyspark.sql.window import Window as W

    from ..operators.similarity import GANN_DEG

    cands = spark.read.parquet(edges_dir).dropDuplicates(["src", "dst"])
    w = W.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst").asc())
    knn = (
        cands.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= GANN_DEG)
        .select("src", "dst")
    )
    return knn.unionByName(
        knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])


def _emb_quantized_stream(spark: SparkSession, sf_dir: str) -> dict[str, object]:
    """The quantized embedding corpus split into {INC_IVF_EPOCHS} id
    ranges; per trigger the three bodies
    that probe against an offline quantizer: IVF postings (map-only cell
    assignment against the full-corpus quantizer), the fixed-epoch IVF
    refresh (ivf_epoch_with_refresh), and the graph-ANN base layer
    (ingest_gann_epoch). Returns ``ivf`` = (postings, ids, cent),
    ``ivf_refresh`` = (refreshed postings, ids, cent) and ``gann`` =
    (postings, edges_dir, ids, cent). The IVF and graph-ANN stores are
    each read by two entries (search + occupancy audit; flat +
    hierarchical search)."""
    from ..operators.similarity import (
        IVF_TRAIN_ITERS,
        _assign_cells,
        _quantize,
        _trained_centroids,
    )

    assert INC_IVF_EPOCHS == INC_GANN_EPOCHS, (
        "the quantized stream assumes one shared epoch split"
    )
    ids, cent = _trained_centroids(spark, sf_dir, IVF_TRAIN_ITERS)
    src = _e2e_tmpdir("alrs_qemb_src_")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", _quantize("embedding").alias("e")
    ).repartitionByRange(INC_IVF_EPOCHS, "vec_id").write.mode(
        "overwrite"
    ).parquet(src)
    postings_dir = _e2e_tmpdir("alrs_ivf_postings_")
    ivfr_store = _e2e_tmpdir("alrs_ivfr_store_")
    ivfr_store2 = _e2e_tmpdir("alrs_ivfr_store2_")
    gann_postings = _e2e_tmpdir("alrs_gann_post_")
    gann_edges = _e2e_tmpdir("alrs_gann_edges_")
    geom: dict = {}

    def ivf(batch_df: DataFrame, epoch_id: int) -> None:
        _assign_cells(batch_df, ids, cent).write.mode("overwrite").parquet(
            f"{postings_dir}/epoch={epoch_id}"
        )

    _drain(
        spark,
        src,
        [
            _epoch_body(
                spark, ingest_gann_epoch, gann_postings, gann_edges, ids, cent
            ),
            _epoch_body(
                spark, ivf_epoch_with_refresh, ivfr_store, ivfr_store2,
                sf_dir, geom,
            ),
            ivf,
        ],
        _e2e_tmpdir("alrs_qemb_ckpt_"),
    )
    ids2, cent2 = geom.get("v2") or _ivf_geometry(
        spark, sf_dir, INC_IVF_REFRESH_AT
    )
    return {
        "ivf": (postings_dir, ids, cent),
        "ivf_refresh": (ivfr_store2, ids2, cent2),
        "gann": (gann_postings, gann_edges, ids, cent),
    }


def _register_incremental_gann() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_gann",
        lambda: _REG["embedding_graph_ann_topk"].oracle,
    )
    def stream_incremental_gann(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming graph-ANN edge maintenance (see block comment) —
        the twelfth incremental store kind: the embedding corpus splits
        into {INC_GANN_EPOCHS} range files → one per trigger → per
        epoch ingest_gann_epoch appends the batch's postings and the
        candidate-edge delta drawn from the arrivals' OWN probe buckets
        (back-edges from existing members included); at query time the
        store resolves to the standing kNN graph (per-src top-G +
        symmetrize) and the batch query's own beam search runs over it.
        Hash-gated equal to embedding_graph_ann_topk — proving
        incrementally-maintained graph == offline batch build across
        training, build, traversal, and ranking.

        Scale: per epoch one O(batch × touched-cell occupancy) GEMM +
        an O(batch·G) edge write; the store read is pruned to the
        batch's probed cells (`cell isin` + cell-sorted row groups);
        the resolve is over ≤ epochs·G rows per src. Replay-idempotent
        (pure function of epoch_id and frozen earlier segments —
        test-locked). The ingest itself is SHARED with the
        hierarchical entry via _emb_quantized_stream (identical base
        layer by construction)."""
        from ..operators.similarity import _gann_search, _quantize

        tune(spark)
        _, edges_dir, _, _ = _ensure_source_stream(
            spark, sf_dir, "emb_quantized"
        )["gann"]
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", _quantize("embedding").alias("e")
        )
        edges = resolve_gann_graph(spark, edges_dir).localCheckpoint(eager=True)
        return _gann_search(emb, edges)


_register_incremental_gann()


# ---- Drift-TRIGGERED IVF centroid refresh ---------------------------------
# Round-13 built the observability (stream_gram_drift_monitor measures
# the consecutive-direction cosine the fixed-epoch refresh takes on
# faith); round-14 wires it: the refresh epoch is DERIVED from the
# moment store's own drift series — retrain when the direction rotates
# past the INC_IVF_DRIFT_COS_Q threshold, not at a hardcoded epoch.
# The trigger is a pure function of the frozen id segments (the same
# deterministic split the gram store ingests), so replays re-derive
# the identical decision after any driver restart — the established
# replay-safety contract, now covering a DATA-DEPENDENT maintenance
# decision.


def _drift_refresh_step(spark: SparkSession, sf_dir: str) -> int:
    """First drift step whose consecutive-direction cosine falls below
    {INC_IVF_DRIFT_COS_Q} µ-units (1 = never fires → the deploy-time
    geometry stands). Consumes the SHARED moment store — the monitor's
    series IS the trigger input, not a recomputation — and is a pure
    function of sf_dir (deterministic segments, frozen epochs)."""
    from ..operators.similarity import (
        GRAM_DRIFT_STEPS,
        INC_IVF_DRIFT_COS_Q,
        _drift_series,
    )

    store = _ensure_source_stream(spark, sf_dir, "emb_segment")["gram"]
    rows = (
        spark.read.parquet(store)
        .groupBy("epoch", "gi", "gj")
        .agg(F.sum("g").cast("bigint").alias("g"))
        .collect()
    )
    by_seg: dict[int, dict] = {}
    for r in rows:
        by_seg.setdefault(int(r["epoch"]), {})[(r["gi"], r["gj"])] = r["g"]
    series = _drift_series(spark, by_seg, GRAM_DRIFT_STEPS).collect()
    fired = [r["step"] for r in series if r["cos_q"] < INC_IVF_DRIFT_COS_Q]
    return min(fired) if fired else 1


def _ivf_range_geometry(spark: SparkSession, sf_dir: str, steps: int):
    """Quantizer trained on the RANGE-based id prefix of ``steps``
    segments (width = ceil((max_id + 1) / {INC_IVF_EPOCHS}) — the
    drift series' own segmentation, so 'ids ingested through the
    trigger epoch' and 'ids the trainer sees' are the same set by
    construction). Pure function of (sf_dir, steps)."""
    import math

    from ..operators.similarity import IVF_TRAIN_ITERS, _kmeans_centroids, _quantize

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    mx = emb.agg(F.max("vec_id").alias("m")).collect()[0]["m"]
    w = math.ceil((int(mx) + 1) / INC_IVF_EPOCHS)
    return _kmeans_centroids(
        spark, emb.filter(F.col("vec_id") < steps * w), IVF_TRAIN_ITERS
    )


def ivf_epoch_with_drift_refresh(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store: str,
    store2: str,
    sf_dir: str,
    geom: dict,
) -> None:
    """Epoch router for the drift-TRIGGERED refresh (module-level so
    replay idempotence is directly testable — the
    ivf_epoch_with_refresh pattern with the refresh epoch R−1 derived
    from the drift series instead of INC_IVF_REFRESH_AT): the drift
    step R fires when the cumulative direction through segment R
    rotates past the threshold against the direction through R−1 —
    both of which exist once epoch R−1 commits, so that epoch is when
    the retrain can deploy. Epochs before R−1 assign with the stale
    deploy-time quantizer into ``store``; at epoch R−1 centroids
    retrain on the ids ingested so far (R segments = ids < R·w), the
    accumulated postings re-bucket into ``store2`` (gated on the
    _SUCCESS marker for replay), and later epochs assign refreshed. If
    the drift never crosses the threshold (R == 1) no refresh happens
    and every epoch stays in ``store``.

    Replay: R, both geometries, and the routing are pure functions of
    (sf_dir, epoch_id) — a restarted driver re-derives them all;
    ``geom`` is a driver-side memo only."""
    from ..operators.similarity import _assign_cells

    if "r" not in geom:
        geom["r"] = _drift_refresh_step(spark, sf_dir)
    R = geom["r"]
    re_epoch = R - 1  # 0-based epoch at which the refresh deploys
    if R == 1 or epoch_id < re_epoch:
        if "v1" not in geom:
            geom["v1"] = _ivf_range_geometry(spark, sf_dir, 1)
        ids, cent = geom["v1"]
        _assign_cells(batch_df, ids, cent).write.mode("overwrite").parquet(
            f"{store}/epoch={epoch_id}"
        )
        return
    if "v2" not in geom:
        geom["v2"] = _ivf_range_geometry(spark, sf_dir, R)
    ids2, cent2 = geom["v2"]
    if epoch_id == re_epoch or not _os_cc.path.isfile(
        f"{store2}/epoch=0/_SUCCESS"
    ):
        old = spark.read.parquet(store).select("vec_id", "e")
        _assign_cells(old, ids2, cent2).write.mode("overwrite").parquet(
            f"{store2}/epoch=0"
        )
    _assign_cells(batch_df, ids2, cent2).write.mode("overwrite").parquet(
        f"{store2}/epoch={epoch_id}"
    )


def _register_incremental_ivf_drift_refresh() -> None:
    from ..operators.similarity import _ivf_drift_refresh_oracle

    @register(
        "stream_incremental_ivf_drift_refresh",
        _ivf_drift_refresh_oracle,
    )
    def stream_incremental_ivf_drift_refresh(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Streaming IVF maintenance whose centroid refresh is
        TRIGGERED BY MEASURED DRIFT (see block comment): the moment
        store's consecutive-direction cosine series — the exact signal
        stream_gram_drift_monitor emits — decides the retrain epoch;
        the corpus streams in deterministic id segments (the shared
        split, so 'ingested so far' is a provable id prefix), the
        router re-buckets at the fired epoch, and the final probe runs
        against whichever store the decision left authoritative.
        Hash-gated against _ivf_drift_refresh_oracle, which chains the
        drift series, the threshold comparison, the prefix retrain,
        and the probe in ONE statement — the trigger itself is inside
        the correctness gate.

        Scale: the drift input is DIM²·epochs store rows (never the
        corpus); per epoch O(batch) assignment; the one-off re-bucket
        is the same O(ingested-prefix) bill the fixed-epoch variant
        pays. Recall measured in ANN_RECALL (equal to the fixed
        variant where both fire at the same epoch — which the sf0.01
        fixture's series makes them do)."""
        from pyspark.sql.window import Window as W

        from ..operators.similarity import (
            GRAM_DRIFT_STEPS,
            N_QUERIES,
            TOP_K,
            _probe_postings,
            _quantize,
        )

        assert INC_IVF_EPOCHS == INC_GRAM_EPOCHS == GRAM_DRIFT_STEPS, (
            "drift steps, gram epochs, and IVF epochs must share the split"
        )
        tune(spark)
        store = _e2e_tmpdir("alrs_ivfd_store_")
        store2 = _e2e_tmpdir("alrs_ivfd_store2_")

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", _quantize("embedding").alias("e")
        )
        # The refresh step reads the finished gram store, so it is taken
        # before this stream starts rather than from inside an epoch.
        geom: dict = {"r": _drift_refresh_step(spark, sf_dir)}
        _drain(
            spark,
            _ensure_emb_segment_split(spark, sf_dir),
            [
                _epoch_body(
                    spark, ivf_epoch_with_drift_refresh, store, store2,
                    sf_dir, geom,
                )
            ],
            _e2e_tmpdir("alrs_ivfd_ckpt_"),
        )
        R = geom["r"]
        if R == 1:
            ids_f, cent_f = geom.get("v1") or _ivf_range_geometry(spark, sf_dir, 1)
            postings = spark.read.parquet(store).select("vec_id", "e", "cell")
        else:
            ids_f, cent_f = geom.get("v2") or _ivf_range_geometry(spark, sf_dir, R)
            postings = spark.read.parquet(store2).select("vec_id", "e", "cell")
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        scored = _probe_postings(spark, postings, queries, ids_f, cent_f).drop("e")
        w = W.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )


_register_incremental_ivf_drift_refresh()


# ---- Incremental sequence-packing maintenance (13th store kind) -----------
# The batch-materialization analog of the frontier stores, and the
# FIRST ORDER-DEPENDENT one: packing concatenates documents in doc_id
# order, so an arriving batch's window coordinates depend only on the
# per-domain RUNNING TOKEN TOTALS — one row per language, the purest
# O(1)-per-domain state any store here carries. Epoch k holds the k-th
# ascending doc_id range (explicit mtimes pin file order, the gram
# split's rule), each epoch offsets its within-batch prefix sum by the
# stored totals, and the union over epochs equals the batch plan — the
# same single-window oracle hash-gates it.
INC_PACK_EPOCHS = 4

def ingest_packing_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One packing-maintenance epoch (module-level for the replay
    test): the batch runs the SAME two-level prefix-sum recurrence as
    the batch plan (_pack_plan_frame), offset by the previous epoch's
    per-domain totals (a broadcast of one row per language), and
    writes this epoch's plan rows plus the advanced totals — both pure
    functions of (frozen previous totals, frozen batch file), so any
    replay rewrites identical bytes. State read per epoch = |domains|
    rows; work = O(batch)."""
    from ..operators.text import _pack_plan_frame, _pack_tokens

    toks = _pack_tokens(batch_df)
    plan = _pack_plan_frame(toks)
    if epoch_id > 0:
        prev = spark.read.parquet(f"{store}/totals/epoch={epoch_id - 1}")
        plan = (
            plan.join(
                F.broadcast(prev.withColumnRenamed("total", "_prev")), "lang", "left"
            )
            .withColumn(
                "startpos",
                F.col("startpos") + F.coalesce(F.col("_prev"), F.lit(0)),
            )
            .drop("_prev")
        )
        base_totals = prev
    else:
        base_totals = spark.createDataFrame(
            [], "lang string, total bigint"
        )
    plan.write.mode("overwrite").parquet(f"{store}/plan/epoch={epoch_id}")
    batch_totals = toks.groupBy("lang").agg(
        F.sum("n_tokens").cast("bigint").alias("total")
    )
    (
        base_totals.unionByName(batch_totals)
        .groupBy("lang")
        .agg(F.sum("total").cast("bigint").alias("total"))
        .write.mode("overwrite")
        .parquet(f"{store}/totals/epoch={epoch_id}")
    )


def _register_incremental_packing() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_packing",
        lambda: _REG["sequence_packing_plan"].oracle,
    )
    def stream_incremental_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming sequence-packing maintenance (see block comment) —
        the thirteenth store kind and the first ORDER-DEPENDENT one:
        documents stream in ascending id ranges, each epoch's window
        coordinates derive from the stored per-domain running totals
        (|languages| rows — the packing statistic IS the sufficient
        state), and the accumulated plan equals the batch
        sequence_packing_plan — the same single-window oracle proves
        stream-maintained == batch. This is the production shape for
        CONTINUOUS batch materialization: as curation emits documents,
        their training-window coordinates are assignable immediately,
        without repacking anything already placed.

        Scale: per epoch O(batch) tokenize + the two-level prefix sum;
        state read is one row per domain; replay-idempotent (pure
        function of epoch_id and the frozen totals chain —
        test-locked)."""
        from ..operators.text import PACK_SEQ_LEN as C

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "docs")["packing"]
        p = spark.read.parquet(f"{store}/plan").select(
            "doc_id", "lang", "n_tokens", "startpos"
        )
        return p.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"startpos div {C}").alias("first_seq"),
            (F.col("startpos") % C).alias("first_off"),
            F.expr(f"(startpos + n_tokens - 1) div {C}").alias("last_seq"),
            (
                F.expr(f"(startpos + n_tokens - 1) div {C}")
                - F.expr(f"startpos div {C}")
            ).alias("crossings"),
        )


_register_incremental_packing()


def _register_stream_packed_manifest() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_packed_manifest",
        lambda: _REG["packed_sequence_manifest"].oracle,
    )
    def stream_packed_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The loader-facing WINDOW-grain manifest served from the
        INCREMENTAL packing store (the stream_cluster_sizes pattern
        applied to batch materialization): resolve the store's
        standing plan rows and aggregate docs / fragments / fill per
        packed sequence — what a continuously-fed training loader
        polls between epochs, without re-tokenizing or re-packing
        anything. Hash-gated on the batch manifest's oracle, proving
        the store-served manifest equals the full recompute. Shares
        the session's packing ingest via _docs_stream (one
        build, two consumers).

        Scale: read cost is the store scan + the token-volume-bounded
        explode (crossings+1 per doc) + a window-grain aggregate;
        maintenance is the shared ingest's O(batch) per epoch."""
        from ..operators.text import PACK_SEQ_LEN as C

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "docs")["packing"]
        p = spark.read.parquet(f"{store}/plan").select(
            "lang", "doc_id", "n_tokens", "startpos"
        )
        spans = p.select(
            "lang",
            "n_tokens",
            "startpos",
            F.expr(f"startpos div {C}").alias("s0"),
            F.expr(f"(startpos + n_tokens - 1) div {C}").alias("s1"),
        )
        exploded = spans.select(
            "lang",
            "n_tokens",
            "startpos",
            "s0",
            "s1",
            F.explode(F.sequence("s0", "s1")).alias("seq_id"),
        ).select(
            "lang",
            "seq_id",
            F.when(
                (F.col("seq_id") > F.col("s0")) | (F.col("seq_id") < F.col("s1")),
                1,
            )
            .otherwise(0)
            .alias("is_fragment"),
            (
                F.least(
                    (F.col("seq_id") + 1) * C,
                    F.col("startpos") + F.col("n_tokens"),
                )
                - F.greatest(F.col("seq_id") * C, F.col("startpos"))
            ).alias("seq_tokens"),
        )
        return exploded.groupBy("lang", "seq_id").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("is_fragment").cast("bigint").alias("n_fragments"),
            F.sum("seq_tokens").cast("bigint").alias("fill_tokens"),
        )


_register_stream_packed_manifest()


# ---- Incremental BUDGET-packing maintenance (14th store kind) -------------
# The fragment-budgeted plan is block-aligned — every (lang, bucket)
# folds independently — and doc_ids arrive ascending, so the ONLY fold
# a future epoch can continue is each language's LAST bucket: the
# sufficient state is one row per language, (last_bucket, end_p,
# frags). Earlier buckets are closed forever the moment a higher id
# lands. Epoch k seeds its boundary groups from the stored state and
# starts every other group fresh — the identical _budget_pack_fold
# recurrence — so the accumulated plan equals the batch budget plan,
# hash-gated on the same recursive-CTE oracle.


def ingest_budget_packing_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One budget-packing maintenance epoch (module-level for the
    replay test): seed each (lang, bucket) group's fold with the
    stored per-language boundary state (broadcast of |languages|
    rows; applies only when the group IS the stored last bucket),
    run the batch through the SAME fragment-budget fold as the batch
    plan, and write this epoch's plan rows plus the advanced state
    (each language's max-bucket final (end_p, frags), languages
    absent from the batch carried forward). Pure function of (frozen
    previous state, frozen batch file) — replay-idempotent."""
    from ..operators.text import PACK_BUCKET, _budget_pack_fold, _pack_tokens

    toks = _pack_tokens(batch_df).withColumn(
        "bucket", F.expr(f"doc_id div {PACK_BUCKET}").cast("bigint")
    )
    if epoch_id > 0:
        prev = spark.read.parquet(f"{store}/state/epoch={epoch_id - 1}")
        toks = (
            toks.join(F.broadcast(prev), "lang", "left")
            .withColumn(
                "init_end_p",
                F.when(
                    F.col("bucket") == F.col("last_bucket"), F.col("st_end_p")
                )
                .otherwise(F.lit(0))
                .cast("bigint"),
            )
            .withColumn(
                "init_frags",
                F.when(
                    F.col("bucket") == F.col("last_bucket"), F.col("st_frags")
                )
                .otherwise(F.lit(0))
                .cast("bigint"),
            )
            .drop("last_bucket", "st_end_p", "st_frags")
        )
    else:
        prev = spark.createDataFrame(
            [], "lang string, last_bucket bigint, st_end_p bigint, st_frags bigint"
        )
        toks = toks.withColumn("init_end_p", F.lit(0).cast("bigint")).withColumn(
            "init_frags", F.lit(0).cast("bigint")
        )

    plan = _budget_pack_fold(toks, with_state=True).localCheckpoint(eager=True)
    plan.drop("fin_end_p", "fin_frags").write.mode("overwrite").parquet(
        f"{store}/plan/epoch={epoch_id}"
    )
    last = plan.groupBy("lang").agg(F.max("bucket").alias("last_bucket"))
    new_state = (
        plan.join(F.broadcast(last), ["lang"])
        .filter(F.col("bucket") == F.col("last_bucket"))
        .select(
            "lang",
            "last_bucket",
            F.col("fin_end_p").alias("st_end_p"),
            F.col("fin_frags").alias("st_frags"),
        )
        .dropDuplicates(["lang"])
    )
    carried = prev.join(new_state.select("lang"), "lang", "left_anti")
    new_state.unionByName(carried).write.mode("overwrite").parquet(
        f"{store}/state/epoch={epoch_id}"
    )


def _register_incremental_budget_packing() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_budget_packing",
        lambda: _REG["sequence_packing_budget_plan"].oracle,
    )
    def stream_incremental_budget_packing(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Streaming FRAGMENT-BUDGET packing maintenance (see block
        comment) — the fourteenth store kind, extending the
        order-dependent line the 13th opened: documents stream in
        ascending id ranges (the shared memoized ordered split), each
        epoch seeds only its boundary (lang, bucket) groups from one
        stored row per language and folds everything else fresh, and
        the accumulated plan equals the batch
        sequence_packing_budget_plan — the recursive-CTE oracle
        hash-gates stream-maintained == batch. The production story:
        as curation emits documents, their budget-constrained window
        coordinates are assignable immediately, with the attention-
        mask fragment cap enforced mid-stream.

        Scale: per epoch O(batch) tokenize + the block-aligned fold;
        state read/write is |languages| rows; replay-idempotent
        (pure function of epoch_id and the frozen state chain —
        test-locked)."""
        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "docs")["budget_packing"]
        return spark.read.parquet(f"{store}/plan").select(
            "doc_id", "lang", "bucket", "n_tokens",
            "first_seq", "first_off", "last_seq", "pad_before",
        )


_register_incremental_budget_packing()


def _register_incremental_er() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_er",
        lambda: _REG["entity_resolution_weighted_survivorship"].oracle,
    )
    def stream_incremental_er(spark: SparkSession, sf_dir: str) -> DataFrame:
        """INCREMENTAL ENTITY RESOLUTION — golden records served from
        the standing stores: the shared near-dup ingest maintains the
        warm-start CC label store per epoch, and this read resolves
        the labels and runs the quality-weighted survivorship pass
        (the identical _weighted_survivorship_frame merge rules:
        per-member quantized quality votes for source/lang, total/best
        quality, min-id entity key) over them. Incremental ER is the
        production composition — entities whose membership grows as
        documents stream in, golden records re-derivable at any epoch
        without re-blocking the corpus — and the hash gate proves the
        store-served records equal the batch blocking→verify→CC→
        survivorship composite.

        Scale: read cost is the label-store scan + broadcast remap
        (no CC at read time) plus the survivorship's cluster-grain
        aggregates; maintenance is the shared ingest's measured
        O(delta) per epoch (the memo bill-payer pattern — this entry
        adds no ingest of its own)."""
        from ..operators import text as _text
        from ..operators.dedup import _weighted_survivorship_frame

        _, _, _, _, cc_dir = _ensure_source_stream(spark, sf_dir, "docs")["neardup"]
        labels = resolve_incremental_labels(spark, cc_dir).select(
            "doc_id", "cluster_id"
        )
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        quality = _text._quality_of(d).select("doc_id", "quality_score")
        return _weighted_survivorship_frame(d, labels, quality)


_register_incremental_er()


# ---- Incremental association-rule supports (15th store kind) --------------
# The first MERGEABLE-MULTI-STATISTIC store: association rules need
# three additive statistics — pair supports, item supports, basket
# count — and all three are sums of per-basket contributions, so epochs
# split on WHOLE BASKETS (l_orderkey ranges) write independent deltas
# that resolve by summation (the gram moment store's algebra, carried
# to three statistics at once). Resolve = sum each store + the batch
# query's own _rules_from_supports scoring — hash-gated on the batch
# oracle.
INC_RULES_EPOCHS = 4

def _ensure_basket_split(spark: SparkSession, sf_dir: str) -> str:
    """l_orderkey-range split of lineitem's (basket, item) projection —
    whole baskets per file, so every epoch's pair delta is complete."""

    def build() -> str:
        src = _e2e_tmpdir("alrs_basketsplit_")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey"
        )
        li.repartitionByRange(INC_RULES_EPOCHS, "l_orderkey").write.mode(
            "overwrite"
        ).parquet(src)
        return src

    return memo(spark, "basket_split", (sf_dir,), build)


def ingest_rules_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One support-maintenance epoch (module-level for the replay
    test): the batch's whole baskets contribute pair-support, item-
    support, and basket-count DELTAS — three independent additive
    aggregates, each written to its own epoch partition. Pure function
    of the frozen batch file alone (no cross-epoch state at all — the
    purest mergeable store here), so replays rewrite identical bytes.

    r18 fused-commit rewrite (guide §2.3 "aggregate before you
    shuffle", §2.4; the simhash store's one-commit-per-trigger
    precedent): the former shape ran THREE aggregate jobs and THREE
    parquet commits per epoch over a persist()ed basket frame. All
    three statistics are COUNT(*)s over rows derivable map-side from
    each basket's sorted part set, so one explode emits kind-tagged
    rows — kind 0 = unordered part pair (ka, kb), kind 1 = part
    membership (ka), kind 2 = one basket marker — and ONE
    (kind, ka, kb) aggregate + ONE epoch-partition write commits the
    whole delta. Per epoch: 3 jobs + 3 commits + persist/unpersist →
    1 job + 1 commit, identical resolved sums (replay test re-derives
    the batch supports from the fused layout; the assoc-rules /
    modularity / conductance consumers stay hash-gated on their batch
    oracles). Measured at sf0.1: full 4-epoch streaming ingest
    6.6 s → 3.9 s warm (see OPTIMIZATION_r18.md)."""
    from ..operators.relational import _basket_part_sets

    baskets = _basket_part_sets(batch_df.select("l_orderkey", "l_partkey"))
    rows = baskets.select(
        F.explode(
            F.expr(
                "concat("
                " flatten(transform(ps, (x, i) ->"
                "   transform(slice(ps, i + 2, size(ps)),"
                "     y -> struct(0 AS kind, x AS ka, y AS kb)))),"
                " transform(ps, x ->"
                "   struct(1 AS kind, x AS ka, CAST(0 AS BIGINT) AS kb)),"
                " array(struct(2 AS kind, CAST(0 AS BIGINT) AS ka,"
                "              CAST(0 AS BIGINT) AS kb))"
                ")"
            )
        ).alias("r")
    )
    (
        rows.groupBy(
            F.col("r.kind").alias("kind"),
            F.col("r.ka").alias("ka"),
            F.col("r.kb").alias("kb"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
        .write.mode("overwrite")
        .parquet(f"{store}/epoch={epoch_id}")
    )


def _baskets_stream(spark: SparkSession, sf_dir: str) -> dict[str, object]:
    """Whole-basket l_orderkey ranges (_ensure_basket_split) through
    ingest_rules_epoch. The support store is read by the assoc-rules
    entry and, through _ensure_store_lpa, the two store-served
    community monitors."""
    store = _e2e_tmpdir("alrs_rules_store_")
    _drain(
        spark,
        _ensure_basket_split(spark, sf_dir),
        [_epoch_body(spark, ingest_rules_epoch, store)],
        _e2e_tmpdir("alrs_rules_ckpt_"),
    )
    return {"rules": store}


def _register_incremental_rules() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_assoc_rules",
        lambda: _REG["association_rules_lift"].oracle,
    )
    def stream_incremental_assoc_rules(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Streaming association-rule maintenance (see block comment) —
        the fifteenth store kind and the first mergeable MULTI-
        statistic one: baskets stream in whole-order ranges, each
        epoch writes pair/item/basket-count deltas (no cross-epoch
        state), and the resolved sums feed the batch query's own
        confidence/lift scoring (_rules_from_supports) — hash-gated
        equal to association_rules_lift. The production shape for a
        continuously-fed recommender: supports advance per batch,
        rules re-rank from store sums without rescanning history.

        Scale: per epoch one C(basket,2)-bounded self-join + two
        map-side-combined aggregates over the batch alone; resolve
        is three epoch-partition sums (pair-grain at most) + the
        top-{{RULES_TOP}} window; replay-idempotent (stateless epochs
        — test-locked)."""
        from ..operators.relational import _rules_from_supports

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "baskets")["rules"]
        st = spark.read.parquet(store)
        pairs = (
            st.filter(F.col("kind") == 0)
            .groupBy(
                F.col("ka").alias("part_a"), F.col("kb").alias("part_b")
            )
            .agg(F.sum("c").cast("bigint").alias("support"))
        )
        isup = (
            st.filter(F.col("kind") == 1)
            .groupBy(F.col("ka").alias("l_partkey"))
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        n_baskets = (
            st.filter(F.col("kind") == 2)
            .agg(F.sum("c").cast("bigint").alias("n"))
            .collect()[0]["n"]
        )
        return _rules_from_supports(pairs, isup, int(n_baskets))


_register_incremental_rules()


def ingest_gann_hier_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    postings: str,
    edges_dir: str,
    uedges_dir: str,
    ids,
    cent,
) -> None:
    """One HIERARCHICAL graph-ANN maintenance epoch: the base layer
    ingests exactly as ingest_gann_epoch (postings + base edge delta),
    then the UPPER layer's delta runs the SAME candidate rule
    restricted to upper nodes (vec_id % {GANN_UPPER_MOD} == 0) — upper
    membership is a pure id predicate, so the upper candidate set is a
    further subset of the base one and the same losslessness argument
    resolves the upper store to the batch upper graph. Empty upper
    deltas (a batch with no upper arrivals) still write their epoch
    partition, keeping replay's epoch == partition invariant."""
    ingest_gann_epoch(
        spark, batch_df, epoch_id, postings, edges_dir, ids, cent
    )
    ingest_gann_upper_epoch(spark, epoch_id, postings, uedges_dir)


def ingest_gann_upper_epoch(
    spark: SparkSession, epoch_id: int, postings: str, uedges_dir: str
) -> None:
    """The UPPER layer's half of a hierarchical maintenance epoch. It
    reads ONLY the frozen postings store (this epoch's segment for the
    touched upper cells, segments ≤ epoch_id for the members), so it is
    a pure function of (epoch_id, postings) — which is what lets the
    hier entry replay the whole upper maintenance as a driver loop over
    an ALREADY-SHARED base ingest instead of a second stream."""
    from ..operators.similarity import GANN_UPPER_MOD

    upper_mask = F.col("vec_id") % GANN_UPPER_MOD == 0
    ucells = [
        r[0]
        for r in spark.read.parquet(f"{postings}/epoch={epoch_id}")
        .filter(upper_mask)
        .select("cell")
        .distinct()
        .collect()
    ]
    umembers = spark.read.parquet(postings).filter(
        (F.col("epoch") <= epoch_id)
        & F.col("cell").isin(ucells)
        & upper_mask
    )
    _gann_delta_edges(umembers, epoch_id).write.mode("overwrite").parquet(
        f"{uedges_dir}/epoch={epoch_id}"
    )


def _register_incremental_gann_hier() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_incremental_gann_hier",
        lambda: _REG["embedding_graph_ann_hier_topk"].oracle,
    )
    def stream_incremental_gann_hier(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Streaming HIERARCHICAL graph-ANN maintenance — the full
        production HNSW story assembled from this round's pieces: per
        epoch the base edge store ingests the arrivals' probe-bucket
        deltas AND the sparse upper layer maintains its own deltas
        under the same rule restricted to every
        {GANN_UPPER_MOD}th node; at query time BOTH stores resolve
        (per-src top-G + symmetrize each) and the batch hierarchical
        query's own two-layer search runs over them. Hash-gated
        against embedding_graph_ann_hier_topk's oracle — training,
        both incrementally-maintained graph builds, both layers'
        beam rounds, the seed handoff, and the ranking, end to end.

        Scale: the upper delta adds O(upper-batch × upper-occupancy)
        GEMM per epoch on top of the base ingest (upper membership is
        1/{GANN_UPPER_MOD} of nodes, so upper pairs are
        ~1/{GANN_UPPER_MOD}² of base); the resolves stay answer-sized.
        Replay-idempotent — the upper delta reads only epochs ≤ its
        own (test-locked alongside the base store).

        The base ingest is SHARED with stream_incremental_gann via
        _emb_quantized_stream (the two base layers are identical by
        construction); the upper maintenance then runs epoch by epoch
        over the frozen postings store — each ingest_gann_upper_epoch
        call consumes exactly the inputs the in-stream form saw
        (this epoch's upper cells, member segments ≤ epoch), so the
        resolved upper store is unchanged."""
        from ..operators.similarity import _gann_hier_search, _quantize

        tune(spark)
        postings, edges_dir, _, _ = _ensure_source_stream(
            spark, sf_dir, "emb_quantized"
        )["gann"]
        uedges_dir = _e2e_tmpdir("alrs_gannh_uedges_")

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", _quantize("embedding").alias("e")
        )
        epochs = sorted(
            r[0]
            for r in spark.read.parquet(postings)
            .select("epoch")
            .distinct()
            .collect()
        )
        for e in epochs:
            ingest_gann_upper_epoch(spark, e, postings, uedges_dir)

        edges = resolve_gann_graph(spark, edges_dir).localCheckpoint(eager=True)
        uedges = resolve_gann_graph(spark, uedges_dir).localCheckpoint(
            eager=True
        )
        return _gann_hier_search(emb, edges, uedges)


_register_incremental_gann_hier()


def _ensure_store_lpa(spark: SparkSession, sf_dir: str):
    """(both-direction weighted edge frame, read-time LPA labels)
    resolved from the assoc-rules store's pair-support sums — the
    store-path twin of relational._lpa_frames, shared by the two
    store-served community monitors (modularity + conductance) so the
    one read-time LPA recompute serves both readers, exactly the way
    the batch pair splits _lpa_frames. Memoized per (session, corpus);
    the underlying ingest is _baskets_stream (shared further with
    stream_incremental_assoc_rules)."""
    from ..operators.relational import _lpa_label_rounds, _mirror_pairs

    def build():
        store = _ensure_source_stream(spark, sf_dir, "baskets")["rules"]
        pe = (
            spark.read.parquet(store)
            .filter(F.col("kind") == 0)
            .groupBy(F.col("ka").alias("part_a"), F.col("kb").alias("part_b"))
            .agg(F.sum("c").cast("bigint").alias("w"))
        )
        eu = _mirror_pairs(pe, "part_a", "part_b", "src", "dst", ("w",))
        # r18: src-partitioned checkpoint — every LPA round's aggregates
        # reuse this one exchange (see _lpa_frames for the A/B numbers and
        # the scale argument; identical edge algebra here, fed from the
        # rules store's resolved pair sums instead of the batch baskets).
        eu = eu.repartition("src")
        eu = eu.localCheckpoint(eager=True)  # root of every round's DAG
        return eu, _lpa_label_rounds(eu)

    return memo(spark, "store_lpa", (sf_dir,), build)


def _register_stream_community_modularity() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_community_modularity",
        lambda: _REG["community_modularity"].oracle,
    )
    def stream_community_modularity(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """STORE-SERVED community-quality monitor — Newman modularity
        over the co-purchase graph REBUILT from the assoc-rules
        store's pair-support sums (the 15th store kind, shared ingest
        with stream_incremental_assoc_rules via _baskets_stream:
        the resolved pair supports ARE the co-purchase edge weights,
        so the graph loop closes the way stream_ivf_occupancy closed
        IVF's). Labels are RECOMPUTED at read time — the r15
        incremental-LPA impossibility note stands: a label flip can
        cascade graph-wide, so converged labels are not a mergeable
        per-epoch statistic; what the store buys is never re-scanning
        lineitem or re-running the basket self-join (the edge frame
        resolves from pair-grain epoch deltas). Hash-gated on the
        batch community_modularity oracle: store-resolved edges ==
        batch edges, same synchronous LPA rounds
        (relational._lpa_label_rounds), same Newman-Q epilogue
        (relational._modularity_frame).

        Scale: resolve is one pair-grain epoch-partition sum; the LPA
        rounds and the modularity epilogue are the batch query's own
        measured plans (exponents 0.97 / 0.95 — the graph's inherent
        linear edge volume); maintenance is the shared ingest's
        O(whole-basket batch) per epoch. The resolved edges and the
        read-time labels are shared with stream_community_conductance
        via _ensure_store_lpa (one recompute, two monitors)."""
        from ..operators.relational import _modularity_frame

        tune(spark)
        eu, labels = _ensure_store_lpa(spark, sf_dir)
        return _modularity_frame(eu, labels)


_register_stream_community_modularity()


def _register_stream_community_conductance() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_community_conductance",
        lambda: _REG["community_conductance"].oracle,
    )
    def stream_community_conductance(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """STORE-SERVED community cut-quality monitor — per-community
        conductance over the co-purchase graph resolved from the
        assoc-rules store, the second reader of the read-time LPA that
        stream_community_modularity pays for (shared via
        _ensure_store_lpa, mirroring how the batch pair
        community_modularity / community_conductance split
        _lpa_frames: one label recompute, two quality monitors).
        Hash-gated on the batch community_conductance oracle:
        store-resolved edges == batch edges, same LPA rounds, same
        conductance epilogue (relational._conductance_frame).

        Scale: this entry adds NO ingest and NO LPA of its own — the
        memoized (edges, labels) pair serves both monitors; the
        epilogue is two node-grain label joins + community-grain
        aggregates + one broadcast-scalar total, the batch query's own
        measured plan (exponent 0.54 warmed)."""
        from ..operators.relational import _conductance_frame

        tune(spark)
        eu, labels = _ensure_store_lpa(spark, sf_dir)
        return _conductance_frame(eu, labels)


_register_stream_community_conductance()


def _register_stream_budget_allocation() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_data_budget_allocation",
        lambda: _REG["data_budget_allocation"].oracle,
    )
    def stream_data_budget_allocation(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """STORE-SERVED training-budget allocation — the max-min-fair
        waterfilling allocator (text._waterfill, the arithmetic half
        of data_budget_allocation) fed from the PACKING store's
        per-language token totals (the 13th store kind, shared ingest
        with stream_incremental_packing / stream_packed_manifest via
        _docs_stream) instead of a fresh corpus tokenize.
        The production loop this closes: as curation streams documents
        in, the per-domain token totals advance one |languages|-row
        state write per epoch, and the data-constrained epoch plan
        (Muennighoff et al. 2023 setting) re-derives from the latest
        totals row WITHOUT rescanning any text. Hash-gated on the
        batch data_budget_allocation oracle: the store's last-epoch
        totals equal the batch tokenize's per-language sums.

        Scale: read cost is one |languages|-row store partition scan
        (the epoch argmax collect is one row) + arithmetic on that
        tiny frame; maintenance is the shared ingest's O(batch)
        tokenize per epoch — this entry adds no ingest of its own."""
        from ..operators.text import _waterfill

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "docs")["packing"]
        tot = spark.read.parquet(f"{store}/totals")
        last = tot.agg(F.max("epoch").alias("e")).collect()[0]["e"]
        sizes = tot.filter(F.col("epoch") == last).select(
            "lang", F.col("total").cast("bigint").alias("n_tokens")
        )
        return _waterfill(sizes)


_register_stream_budget_allocation()


# ---- Incremental token-frequency store (16th store kind) ------------------
# The corpus-shape statistics (Zipf exponent, vocabulary coverage) are
# pure functions of the token-frequency table, and per-batch token
# counts are ADDITIVE — so the store is stateless mergeable deltas (the
# assoc-rules algebra at token grain): each epoch writes its batch's
# (token, count) aggregate, resolve is one sum per token. Replays
# rewrite identical bytes (pure function of the frozen batch file).
INC_TOK_EPOCHS = 4

def ingest_token_counts_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One token-count maintenance epoch (module-level for the replay
    test): the batch's whitespace tokens aggregate to (token, c) and
    write as this epoch's delta — no cross-epoch state at all."""
    from ..functions.scalar import norm_text

    toks = batch_df.select(
        F.explode(F.split(norm_text("text"), " ")).alias("token")
    )
    (
        toks.groupBy("token")
        .agg(F.count("*").cast("bigint").alias("c"))
        .write.mode("overwrite")
        .parquet(f"{store}/counts/epoch={epoch_id}")
    )


def _resolve_token_counts(spark: SparkSession, store: str) -> DataFrame:
    """(token, f) resolved from the epoch deltas — one sum per token."""
    return (
        spark.read.parquet(f"{store}/counts")
        .groupBy("token")
        .agg(F.sum("c").cast("bigint").alias("f"))
    )


def _register_token_store_readers() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_vocab_coverage",
        lambda: _REG["vocab_coverage_curve"].oracle,
    )
    def stream_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED vocabulary coverage curve — the 16th store kind
        (stateless mergeable token-count deltas: per-batch (token, c)
        aggregates summing to the corpus frequency table) read through
        the batch query's own epilogue (text._coverage_epilogue).
        The production loop: as curation streams documents in, the
        token table advances one additive delta per epoch, and the
        vocabulary-sizing curve re-derives from store sums WITHOUT
        rescanning any text. Hash-gated on vocab_coverage_curve's
        oracle: store-resolved frequencies equal the batch tokenize's.

        Scale: per epoch one O(batch) tokenize + a map-side-combined
        token aggregate; resolve is one sum per token (epoch count is
        a constant multiplier, compactable); the epilogue's windows
        see the top-COV_K (100) head only."""
        tune(spark)
        from ..operators.text import _coverage_epilogue

        store = _ensure_source_stream(spark, sf_dir, "docs")["token"]
        return _coverage_epilogue(_resolve_token_counts(spark, store))

    @register(
        "stream_zipf_slope",
        lambda: _REG["zipf_slope_tokens"].oracle,
    )
    def stream_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED Zipf exponent — the second reader of the
        token-frequency store (shared _docs_stream; one
        ingest, two corpus-shape monitors): the OLS fit over the
        resolved top-ZIPF_K (100) head via the batch query's own
        epilogue (text._zipf_epilogue). A drifting live Zipf slope is
        the standing signal for synthetic/duplicated inflow — this
        entry makes it maintainable per batch instead of per rescan.
        Hash-gated on zipf_slope_tokens' oracle.

        Scale: the shared store resolve (one sum per token) + a
        TakeOrdered head + closed-form OLS over ZIPF_K rows."""
        tune(spark)
        from ..operators.text import _zipf_epilogue

        store = _ensure_source_stream(spark, sf_dir, "docs")["token"]
        return _zipf_epilogue(_resolve_token_counts(spark, store))


_register_token_store_readers()


# ---- Incremental contamination flags (17th store kind) --------------------
# The decontamination gate's PRODUCTION shape: the benchmark set is
# fixed before ingest (an eval suite), corpus embeddings stream in, and
# each epoch writes the flagged arrivals (corpus vectors within
# CONTAM_TAU of any benchmark vector, with their best match) as an
# append-only delta — a pure function of (static benchmark, frozen
# batch), so the store is stateless mergeable at flag grain and replays
# rewrite identical bytes. Resolve is a plain union: each corpus vector
# arrives in exactly one epoch.
def ingest_contamination_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store: str,
    bench: DataFrame,
) -> None:
    """One contamination-gate epoch (module-level for the replay test):
    score the batch's corpus vectors against the broadcast benchmark
    set, keep rows at or above the flag threshold, reduce to the
    per-vector best match, and write this epoch's flag delta."""
    from ..operators.similarity import CONTAM_BENCH, CONTAM_TAU, _dot

    corpus = batch_df.filter(F.col("vec_id") >= CONTAM_BENCH).select(
        F.col("vec_id").alias("corpus_id"), "e"
    )
    scored = corpus.crossJoin(F.broadcast(bench)).select(
        "corpus_id",
        "bench_id",
        (
            _dot(F.col("e"), F.col("be")).cast("double")
            / (
                F.sqrt(_dot(F.col("e"), F.col("e")).cast("double"))
                * F.sqrt(_dot(F.col("be"), F.col("be")).cast("double"))
            )
        ).alias("cosine"),
    ).filter(F.col("cosine") >= CONTAM_TAU)
    (
        scored.groupBy("corpus_id")
        .agg(
            F.max_by(
                "bench_id",
                F.struct(F.col("cosine"), (-F.col("bench_id")).alias("nb")),
            ).alias("bench_id"),
            F.max("cosine").alias("cosine"),
        )
        .select("corpus_id", "bench_id", "cosine")
        .write.mode("overwrite")
        .parquet(f"{store}/flags/epoch={epoch_id}")
    )


def _contam_bench_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import CONTAM_BENCH, _quantize

    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < CONTAM_BENCH)
        .select(
            F.col("vec_id").alias("bench_id"),
            _quantize("embedding").alias("be"),
        )
    )


def _register_stream_contamination() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_semantic_contamination",
        lambda: _REG["semantic_contamination_check"].oracle,
    )
    def stream_semantic_contamination(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """INCREMENTAL semantic decontamination — the 17th store kind:
        corpus embeddings stream in id segments (the shared memoized
        split), each epoch scores ONLY its arrivals against the fixed
        broadcast benchmark set and appends the flagged rows, and the
        accumulated flags equal the batch semantic_contamination_check
        — hash-gated on the same oracle. This is the shape a live
        ingest pipeline actually wants: leakage flagged the moment a
        document arrives, never a corpus rescan, and the store is a
        pure union (stateless mergeable at flag grain — the purest
        store algebra here alongside assoc-rules and token counts).

        Scale: per epoch one O(batch) broadcast scoring pass (the
        corpus never shuffles; the threshold filters before any
        exchange; max_by partials collapse the bench expansion);
        resolve is one read of the flag deltas; replay-idempotent
        (pure function of the static benchmark + the frozen batch —
        test-locked)."""
        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "emb_segment")[
            "contamination"
        ]
        return spark.read.parquet(f"{store}/flags").select(
            "corpus_id", "bench_id", "cosine"
        )


_register_stream_contamination()


def _emb_segment_stream(spark: SparkSession, sf_dir: str) -> dict[str, object]:
    """The embedding corpus in deterministic id segments
    (_ensure_emb_segment_split) through the moment-matrix body
    (ingest_gram_epoch) and the contamination gate
    (ingest_contamination_epoch). The gram store is read by
    stream_incremental_gram_pc (sums the store), stream_gram_drift_monitor
    (per-epoch prefixes) and the drift-triggered IVF refresh's trigger.

    The split is DETERMINISTIC id prefixes (segment = vec_id div
    ceil(n / {INC_GRAM_EPOCHS}), files fed in segment order via explicit
    mtimes), not sampled repartitionByRange boundaries: the drift
    monitor's oracle is the batch gram_direction_drift CTE restricted to
    id-prefix checkpoints, so epoch k must hold exactly id-segment k. The
    sum-across-epochs consumer and the contamination union are
    boundary-indifferent; the prefix consumer is what pins them."""
    gram_store = _e2e_tmpdir("alrs_gram_store_")
    contam_store = _e2e_tmpdir("alrs_contam_store_")
    _drain(
        spark,
        _ensure_emb_segment_split(spark, sf_dir),
        [
            _epoch_body(spark, ingest_gram_epoch, gram_store),
            _epoch_body(
                spark, ingest_contamination_epoch, contam_store,
                _contam_bench_frame(spark, sf_dir),
            ),
        ],
        _e2e_tmpdir("alrs_embseg_ckpt_"),
    )
    return {"gram": gram_store, "contamination": contam_store}


# ---- Incremental user-time store (18th store kind) -------------------------
# Kaplan–Meier needs only (per user: first event day, first qualifying
# conversion day) plus the observation end — and ALL THREE are
# MIN/MAX-MERGEABLE: epochs may split the event stream ARBITRARILY (by
# arrival time, no whole-user ranges needed, unlike the whole-basket
# constraint the rules store carries), each epoch writes its batch's
# per-user minima + a 1-row day maximum, and the resolved min/max
# equals the batch scan. The first order-statistic-merge store kind
# (sum-merge: rules/token; this: min/max-merge at user grain).
INC_KM_EPOCHS = 4

def _ensure_event_split(spark: SparkSession, sf_dir: str, n: int) -> str:
    """ts-range split of the event stream (arrival order — users span
    epochs freely; the min-merge algebra doesn't care). Memoized."""

    def build() -> str:
        src = _e2e_tmpdir("alrs_evsplit_")
        ev = normalize_nanos(
            spark.read.parquet(f"{sf_dir}/events.parquet")
        ).select(
            "user_id",
            "event_type",
            "value",
            F.to_date("ts").alias("day"),
        )
        ev.repartitionByRange(n, "day").write.mode("overwrite").parquet(src)
        return src

    return memo(spark, "event_split", (sf_dir, n), build)


def ingest_km_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One user-time maintenance epoch (module-level for the replay
    test): the batch's per-user first-event/first-conversion day
    minima and the batch's day maximum — pure functions of the frozen
    batch alone, resolved downstream by global MIN/MAX."""
    from ..operators.windows_sql import KM_VALUE_FLOOR

    (
        batch_df.groupBy("user_id")
        .agg(
            F.min("day").alias("fd"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= KM_VALUE_FLOOR),
                    F.col("day"),
                )
            ).alias("pd"),
        )
        .write.mode("overwrite")
        .parquet(f"{store}/usertimes/epoch={epoch_id}")
    )
    (
        batch_df.agg(F.max("day").alias("m"))
        .write.mode("overwrite")
        .parquet(f"{store}/maxday/epoch={epoch_id}")
    )


def _register_stream_km() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_kaplan_meier",
        lambda: _REG["kaplan_meier_conversion"].oracle,
    )
    def stream_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED survival curve — the 18th store kind: events
        stream in ARRIVAL-TIME ranges (users span epochs freely — the
        min/max-merge algebra needs no whole-entity batching, unlike
        the rules store's whole-basket constraint), each epoch writes
        per-user first-event/first-conversion day minima plus a 1-row
        day maximum, and the resolved minima feed the batch query's
        own Kaplan–Meier epilogue (windows_sql._km_curve_from_user_times)
        — hash-gated equal to kaplan_meier_conversion. The production
        loop: the live conversion curve advances one O(batch)
        aggregate per epoch, re-derivable at any point without
        rescanning event history.

        Scale: per epoch one map-side-combined user-grain aggregate of
        the batch alone; resolve is a min/max roll-up of the epoch
        deltas; replay-idempotent (pure function of the frozen batch —
        test-locked)."""
        from ..operators.windows_sql import _km_curve_from_user_times

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "events_day")["km"]
        up = (
            spark.read.parquet(f"{store}/usertimes")
            .groupBy("user_id")
            .agg(F.min("fd").alias("fd"), F.min("pd").alias("pd"))
        )
        mx = spark.read.parquet(f"{store}/maxday").agg(
            F.max("m").alias("m")
        )
        return _km_curve_from_user_times(up, mx)


_register_stream_km()


# ---- Incremental transition-pair store (19th store kind) ------------------
# The behavioral transition matrix is a count of ADJACENT event pairs
# per user — and adjacency crosses micro-batch boundaries, so a naive
# per-epoch lag() silently DROPS every pair whose two events arrive in
# different epochs. The store therefore keeps, per epoch: (a) the
# batch's INTERNAL pair counts, and (b) one BOUNDARY row per user
# (the user's first and last event of the epoch). Resolve = internal
# sums + the stitched boundary pairs: order each user's epochs, pair
# epoch k's last event with the user's NEXT present epoch's first
# event (users appear in sparse epoch subsets — the stitch window runs
# over (user, epoch)-grain rows, bounded by the epoch count). The
# first SEQUENCE-STITCHING store kind: sum-merge for the bulk, an
# explicit order-dependent boundary algebra for the seams.
INC_TRANS_EPOCHS = 4

def ingest_transition_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One transition-maintenance epoch (module-level for the replay
    test): internal adjacent-pair counts + per-user boundary events —
    both pure functions of the frozen batch alone."""
    from pyspark.sql.window import Window as W

    wseq = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = batch_df.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(wseq).alias("prev_type"),
    )
    (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").cast("bigint").alias("c"))
        .write.mode("overwrite")
        .parquet(f"{store}/internal/epoch={epoch_id}")
    )
    (
        batch_df.groupBy("user_id")
        .agg(
            F.min_by("event_type", F.struct("ts", "event_id")).alias(
                "first_type"
            ),
            F.max_by("event_type", F.struct("ts", "event_id")).alias(
                "last_type"
            ),
        )
        .write.mode("overwrite")
        .parquet(f"{store}/boundary/epoch={epoch_id}")
    )


def resolve_transition_counts(spark: SparkSession, store: str) -> DataFrame:
    """(prev_type, event_type, n) resolved from the epoch deltas:
    internal sums + the stitched cross-epoch boundary pairs."""
    from pyspark.sql.window import Window as W

    internal = (
        spark.read.parquet(f"{store}/internal")
        .groupBy("prev_type", "event_type")
        .agg(F.sum("c").cast("bigint").alias("n"))
    )
    b = spark.read.parquet(f"{store}/boundary")
    wnext = W.partitionBy("user_id").orderBy(F.col("epoch").asc())
    seams = (
        b.select(
            "user_id",
            "epoch",
            "last_type",
            F.lead("first_type").over(wnext).alias("next_first"),
        )
        .filter(F.col("next_first").isNotNull())
        .groupBy(
            F.col("last_type").alias("prev_type"),
            F.col("next_first").alias("event_type"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return (
        internal.unionByName(seams)
        .groupBy("prev_type", "event_type")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )


def _register_stream_transitions() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_transition_matrix",
        lambda: _REG["event_transition_matrix"].oracle,
    )
    def stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED behavioral transition matrix — the 19th store
        kind and the first SEQUENCE-STITCHING one: events stream in
        arrival-time ranges (users span epochs freely), each epoch
        writes its internal adjacent-pair counts plus one boundary row
        per user (first/last event of the epoch), and resolve stitches
        epoch k's last event to the user's NEXT present epoch's first
        event — recovering exactly the pairs a per-batch lag() would
        silently drop at every micro-batch seam (the classic streaming
        sessionization bug, made into store algebra). Hash-gated on
        the batch event_transition_matrix oracle: stitched counts ==
        one global lag over history.

        Scale: per epoch one user-partitioned lag over the batch alone
        + a |types|²-cell aggregate + a user-grain min_by/max_by (all
        map-side combined); resolve is epoch-partition sums plus a
        stitch window over (user, epoch)-grain rows — bounded by the
        user's epoch presence, never event-grain; replay-idempotent
        (pure function of the frozen batch — test-locked)."""
        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "events_ts")["transitions"]
        pairs = resolve_transition_counts(spark, store)
        return pairs.select(
            "prev_type",
            "event_type",
            "n",
            F.expr(
                "CAST((n * 1000000) div SUM(n) OVER (PARTITION BY prev_type)"
                " AS BIGINT)"
            ).alias("prob_q"),
        )

    @register(
        "stream_markov_absorption",
        lambda: _REG["markov_absorption_time"].oracle,
    )
    def stream_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED first-passage time: the transition store's
        second reader (one stitched ingest, two behavioral monitors).
        The resolved pair counts feed the batch query's own integer
        value iteration (windows_sql._markov_vi over the bounded cell
        table), hash-gated equal to markov_absorption_time. The live
        form of the conversion-distance metric: as events stream in,
        the chain's expectations re-derive from store sums without
        replaying any user history.

        Scale: the shared stitched ingest (memoized) + the bounded
        cell resolve + the driver-side solve; this entry adds no
        ingest of its own."""
        from ..operators.windows_sql import _markov_vi

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "events_ts")["transitions"]
        pairs = resolve_transition_counts(spark, store)
        return _markov_vi(spark, pairs)


_register_stream_transitions()


def _ensure_event_ts_split(spark: SparkSession, sf_dir: str, n: int) -> str:
    """ts-range split of the RAW event stream (user_id, event_id,
    event_type, µs ts) in strict arrival order: one file per range,
    mtimes increasing, so epoch k holds exactly ts-range k — the seam
    invariant the transition stitch relies on (every event of a user
    in epoch k precedes every event of that user in epoch k+1).
    Memoized."""
    import glob
    import os
    import shutil

    def build() -> str:
        staging = _e2e_tmpdir("alrs_evtstage_")
        src = _e2e_tmpdir("alrs_evtsplit_")
        # `value` rides along for the hull-store body (the transition body
        # never reads it).
        ev = normalize_nanos(
            spark.read.parquet(f"{sf_dir}/events.parquet")
        ).select("user_id", "event_id", "event_type", "value", "ts")
        # Range-bucket by ts THEN write one file per bucket with increasing
        # mtimes (repartitionByRange alone gives no file-order guarantee to
        # the FileStreamSource, which orders by timestamp).
        from pyspark.sql.window import Window as W

        bounds = list(
            ev.select(
                F.percentile_approx(
                    "ts", [i / n for i in range(1, n)], 10000
                ).alias("b")
            ).collect()[0]["b"]
        )
        # Heavy ts duplication can return the same quantile bound twice,
        # which would leave a ts range empty (no seg=k dir). Dedupe the
        # bounds — fewer, non-empty segments preserve the seam invariant
        # (strict ts ranges in arrival order), which is what the stitch
        # readers rely on, not an exact epoch count.
        bounds = sorted(set(bounds))
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + F.when(F.col("ts") >= F.lit(b), 1).otherwise(0)
        (
            ev.withColumn("seg", bucket.cast("int"))
            .repartition(len(bounds) + 1, "seg")
            .write.mode("overwrite")
            .partitionBy("seg")
            .parquet(staging)
        )
        segs = sorted(
            int(p.rsplit("seg=", 1)[1])
            for p in glob.glob(f"{staging}/seg=*")
        )
        if not segs:
            raise RuntimeError(
                f"event ts-split produced no segments under {staging}; "
                "the events table appears to be empty"
            )
        base = 1_600_000_000
        for k, seg in enumerate(segs):
            fs = glob.glob(f"{staging}/seg={seg}/part-*.parquet")
            assert len(fs) == 1, f"segment {seg}: expected one file, got {fs}"
            dst = f"{src}/part-{k:05d}.parquet"
            shutil.move(fs[0], dst)
            os.utime(dst, (base + k, base + k))
        return src

    return memo(spark, "event_ts_split", (sf_dir, n), build)


def _register_stream_logrank() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_logrank",
        lambda: _REG["logrank_conversion_ab"].oracle,
    )
    def stream_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED log-rank A/B monitor — the user-time store's
        second reader (one min/max-merge ingest, two survival
        monitors): the resolved per-user first-event/first-conversion
        minima feed the batch query's own hypergeometric epilogue
        (windows_sql._logrank_from_user_times), hash-gated equal to
        logrank_conversion_ab. The live experiment dashboard shape:
        the censoring-aware A/B statistic re-derives per batch from
        one user-grain roll-up, never a history replay.

        Scale: the shared ingest's O(batch) aggregate per epoch; read
        is the min/max roll-up + the time-grain epilogue — this entry
        adds no ingest of its own."""
        from ..operators.windows_sql import _logrank_from_user_times

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "events_day")["km"]
        up = (
            spark.read.parquet(f"{store}/usertimes")
            .groupBy("user_id")
            .agg(F.min("fd").alias("fd"), F.min("pd").alias("pd"))
        )
        mx = spark.read.parquet(f"{store}/maxday").agg(
            F.max("m").alias("m")
        )
        return _logrank_from_user_times(up, mx)


_register_stream_logrank()


def _register_stream_sprt() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_sprt",
        lambda: _REG["sprt_conversion_monitor"].oracle,
    )
    def stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED sequential conversion monitor — the user-time
        store's THIRD reader (one min/max-merge ingest now feeds the
        survival curve, the log-rank A/B, and the Wald SPRT): the
        resolved per-user first-event/first-conversion minima collapse
        to the (fd, conv) flags the batch walk consumes, and the same
        banded-prefix-sum epilogue (windows_sql._sprt_from_user_flags)
        reports the boundary crossing — hash-gated equal to
        sprt_conversion_monitor. This closes the live early-stopping
        loop: each arriving epoch advances one user-grain roll-up and
        the go/no-go decision re-derives WITHOUT replaying event
        history — the monitor a production experiment platform keeps
        hot between assignment and decision.

        Scale: the shared ingest's O(batch) aggregate per epoch; read
        is the user-grain min roll-up + the calendar-day-banded walk
        (day-sized tasks, crossing = two conditional MINs, no sort) —
        this entry adds no ingest of its own."""
        from ..operators.windows_sql import _sprt_from_user_flags

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "events_day")["km"]
        up = (
            spark.read.parquet(f"{store}/usertimes")
            .groupBy("user_id")
            .agg(F.min("fd").alias("fd"), F.min("pd").alias("pd"))
        )
        flags = up.select(
            "user_id",
            "fd",
            F.when(F.col("pd").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("conv"),
        )
        return _sprt_from_user_flags(spark, flags)


_register_stream_sprt()


# --- 20th store kind: per-cell convex-hull (running-extrema) store ---------
#
# CUSUM's changepoint is argmax_i |S_i| with S_i = run_s_i − i·mean —
# and mean = s div n is a GLOBAL statistic that changes with every
# arriving epoch, so no per-epoch argmax is mergeable (the r15
# incremental-LPA-style impossibility, one level down: the scoring
# slope itself moves). What IS mergeable: within any (type, day) cell,
# S_i = OFF + (ls_i − mean·li_i) with OFF constant across the cell, so
# for EVERY possible mean the cell's max lies on the UPPER CONVEX HULL
# of its local walk points (li, ls) and its min on the LOWER hull —
# the convex-hull trick. The store therefore keeps, per epoch per
# (type, day): the walk's hull VERTICES (with their ts/event_id) plus
# the cell's (Σv, n) totals. Hull-of-hulls is a hull, day totals are
# additive, and epochs are strict ts ranges (_ensure_event_ts_split),
# so the read path recomputes nothing event-grain: offsets and the
# global mean resolve from the tiny cells frame, every hull vertex is
# scored exactly, and the batch epilogue picks the argmax.
#
# Tie exactness: an interior walk point can never exceed a supporting
# line of the hull, and on an exactly-mean-sloped collinear run every
# point ties — but the run's LEFT endpoint (the earliest, the batch
# tiebreak's pick) is always a kept vertex, so the strict hull
# (collinear interiors dropped) preserves the earliest-achiever
# answer bit-for-bit. Worst-case hull size is the cell's event count
# (a monotone-convex day); typical cells collapse to a handful of
# vertices — measured on the fixture via BENCH_DETAIL.
#
# Cell grain: (type, day) here, matching the batch detector's
# day-banded windows. The hull pass materializes one cell per Arrow
# group, so if a single type-day ever outgrows executor memory the
# algebra admits ANY finer ts-prefix banding (hour, minute) unchanged
# — offsets just order by the finer key; nothing else moves.
def ingest_cusum_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One hull-store maintenance epoch (module-level for the replay
    test): per (type, day) cell of the frozen batch, the walk's
    strict upper+lower hull vertices and the cell totals — pure
    functions of the batch alone, overwrite-idempotent per epoch."""
    ev = (
        batch_df.filter(F.col("value") >= 0)
        .select(
            "event_type",
            "event_id",
            "ts",
            F.floor(F.col("value") * 100).cast("bigint").alias("v_c"),
            F.to_date("ts").alias("day"),
        )
    )
    (
        ev.groupBy("event_type", "day")
        .agg(
            F.sum("v_c").cast("bigint").alias("ds"),
            F.count("*").cast("bigint").alias("dn"),
        )
        .write.mode("overwrite")
        .parquet(f"{store}/cells/epoch={epoch_id}")
    )

    def hulls(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["ts", "event_id"], kind="mergesort"
        ).reset_index(drop=True)
        ls = pdf["v_c"].cumsum().tolist()
        pts = list(
            zip(
                range(1, len(pdf) + 1),
                ls,
                pdf["ts"].tolist(),
                pdf["event_id"].tolist(),
            )
        )

        def chain(sign):
            h = []
            for p in pts:
                while (
                    len(h) >= 2
                    and sign
                    * (
                        (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                        - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
                    )
                    >= 0
                ):
                    h.pop()
                h.append(p)
            return h

        keep = {p[0]: p for p in chain(1) + chain(-1)}
        out = sorted(keep.values())
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "day": pdf["day"].iloc[0],
                "li": [p[0] for p in out],
                "ls": [p[1] for p in out],
                "ts": [p[2] for p in out],
                "event_id": [p[3] for p in out],
            }
        )

    (
        ev.groupBy("event_type", "day")
        .applyInPandas(
            hulls,
            "event_type string, day date, li long, ls long,"
            " ts timestamp, event_id long",
        )
        .write.mode("overwrite")
        .parquet(f"{store}/hull/epoch={epoch_id}")
    )


def _events_ts_stream(spark: SparkSession, sf_dir: str) -> dict[str, object]:
    """The raw event stream in strict ts ranges (_ensure_event_ts_split)
    through the transition body and the CUSUM hull body — both rely on
    the seam invariant (every event of epoch k precedes every event of
    epoch k+1)."""
    trans_store = _e2e_tmpdir("alrs_trans_store_")
    cusum_store = _e2e_tmpdir("alrs_cusum_store_")
    _drain(
        spark,
        _ensure_event_ts_split(spark, sf_dir, INC_TRANS_EPOCHS),
        [
            _epoch_body(spark, ingest_cusum_epoch, cusum_store),
            _epoch_body(spark, ingest_transition_epoch, trans_store),
        ],
        _e2e_tmpdir("alrs_evts_ckpt_"),
    )
    return {"transitions": trans_store, "cusum": cusum_store}


def _cusum_from_store(spark: SparkSession, store: str) -> DataFrame:
    """Resolve the hull store into the batch CUSUM answer: offsets and
    the global mean from the cells frame (driver-side over the
    calendar×epoch-bounded cell grid — the batch query's own collect
    bound), every hull vertex scored exactly, then the shared
    _cusum_select argmax epilogue."""
    from ..operators.windows_sql import _cusum_select

    cells = spark.read.parquet(f"{store}/cells").collect()
    # Event order is (epoch, day) lexicographic per type: epochs are
    # strict ts ranges and days ascend with ts inside an epoch.
    off_rows = []
    acc: dict[str, tuple[int, int]] = {}
    for r in sorted(
        cells, key=lambda r: (r["event_type"], r["epoch"], r["day"])
    ):
        sa, na = acc.get(r["event_type"], (0, 0))
        off_rows.append((r["event_type"], r["epoch"], r["day"], sa, na))
        acc[r["event_type"]] = (sa + r["ds"], na + r["dn"])
    offs = spark.createDataFrame(
        off_rows,
        "event_type string, epoch int, day date, off_s long, off_n long",
    )
    m = spark.createDataFrame(
        [(t, s, n) for t, (s, n) in acc.items()],
        "event_type string, s long, n long",
    )
    hull = spark.read.parquet(f"{store}/hull")
    scored = (
        hull.join(F.broadcast(offs), ["event_type", "epoch", "day"])
        .join(F.broadcast(m), "event_type")
        .select(
            "event_type",
            "event_id",
            "ts",
            "n",
            F.expr("CAST(s div n AS BIGINT)").alias("mean_c"),
            F.expr(
                "CAST(abs(off_s + ls - (off_n + li) * (s div n)) AS BIGINT)"
            ).alias("abs_cusum"),
        )
    )
    return _cusum_select(scored)


def _register_stream_cusum() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_cusum",
        lambda: _REG["cusum_changepoint_events"].oracle,
    )
    def stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED CUSUM changepoint — the 20th store kind and
        the first RUNNING-EXTREMA one: because the changepoint's
        scoring slope (the global mean) moves with every epoch, no
        per-epoch argmax is mergeable — but each (type, day) cell's
        answer for ANY slope lies on the convex hull of its local
        walk, so the store keeps hull VERTICES + cell totals (see the
        module notes above for the exactness-with-ties argument).
        Hash-gated equal to cusum_changepoint_events: same candidate
        scores, same argmax/tiebreak epilogue (_cusum_select).

        Scale: ingest is one map-side cell aggregate + a per-cell
        O(cell) hull pass (Arrow-batched, day-bounded cells); read
        touches only hull vertices and the calendar-bounded cells
        frame — never event history. The monitor the production form
        serves: a mean-shift alarm re-derived per epoch at
        hull-vertex cost."""
        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "events_ts")["cusum"]
        return _cusum_from_store(spark, store)


_register_stream_cusum()


# --- 21st store kind: calendar-keyed additive spend store ------------------
#
# The experiment readouts (Welch t, DiD, CUPED) all consume per-user
# PRE/POST period spend — but the period boundary is the GLOBAL
# calendar midpoint, which MOVES as epochs arrive, so per-user (x, y)
# deltas computed against an epoch-local boundary are not mergeable.
# What is: (user, day)-grain cent sums (pure addition across epochs,
# arrival order irrelevant) plus a 1-row min/max day per epoch. The
# read path re-derives the boundary from the merged span and rolls
# user-days up to (x, y) — history never rescanned, and the same
# store serves every reader of the family.
def ingest_spend_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One spend-store maintenance epoch (module-level for the replay
    test): the batch's (user, day) cent sums and day span — pure
    functions of the frozen batch, overwrite-idempotent per epoch."""
    ev = batch_df.filter(F.col("value") >= 0).select(
        "user_id",
        "day",
        F.floor(F.col("value") * 100).cast("bigint").alias("v_c"),
    )
    (
        ev.groupBy("user_id", "day")
        .agg(F.sum("v_c").cast("bigint").alias("c"))
        .write.mode("overwrite")
        .parquet(f"{store}/userdays/epoch={epoch_id}")
    )
    (
        # Span over the SAME value >= 0 filter as the batch query's
        # frame — an epoch whose min/max day were held only by
        # negative-value events must not move the boundary.
        ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .write.mode("overwrite")
        .parquet(f"{store}/span/epoch={epoch_id}")
    )


def _events_day_stream(spark: SparkSession, sf_dir: str) -> dict[str, object]:
    """Events in day ranges (_ensure_event_split) through the user-time
    body (KM, log-rank, SPRT, SRM read it) and the spend body (Welch t,
    DiD). Both stores are min/max- or sum-mergeable, so any arrival
    order gives the same resolve."""
    km_store = _e2e_tmpdir("alrs_km_store_")
    spend_store = _e2e_tmpdir("alrs_spend_store_")
    _drain(
        spark,
        _ensure_event_split(spark, sf_dir, INC_KM_EPOCHS),
        [
            _epoch_body(spark, ingest_km_epoch, km_store),
            _epoch_body(spark, ingest_spend_epoch, spend_store),
        ],
        _e2e_tmpdir("alrs_evday_ckpt_"),
    )
    return {"km": km_store, "spend": spend_store}


def _spend_store_ux(spark: SparkSession, store: str) -> DataFrame:
    """Resolve the spend store into the (user_id, grp, x, y) frame the
    experiment epilogues consume: merged span → boundary, user-day
    sums → per-user pre/post roll-up (windows_sql._cuped_user_xy's
    twin, served from state)."""
    ud = (
        spark.read.parquet(f"{store}/userdays")
        .groupBy("user_id", "day")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    span = spark.read.parquet(f"{store}/span").agg(
        F.min("d0").alias("d0"), F.max("d1").alias("d1")
    )
    pre = F.datediff(F.col("day"), F.col("d0")) * 2 <= F.datediff(
        F.col("d1"), F.col("d0")
    )
    return (
        ud.crossJoin(F.broadcast(span))
        .groupBy(
            "user_id", (F.col("user_id") % 2).cast("int").alias("grp")
        )
        .agg(
            F.coalesce(F.sum(F.when(pre, F.col("c"))), F.lit(0))
            .cast("bigint")
            .alias("x"),
            F.coalesce(F.sum(F.when(~pre, F.col("c"))), F.lit(0))
            .cast("bigint")
            .alias("y"),
        )
    )


def _register_stream_spend_readers() -> None:
    from ..plans.registry import QUERIES as _REG

    @register("stream_welch_t", lambda: _REG["welch_t_ab"].oracle)
    def stream_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED Welch t — first reader of the calendar-keyed
        additive spend store (21st kind; see the store notes above for
        why (user, day) grain is the mergeable algebra when the
        pre/post boundary moves with the calendar): the resolved
        user-day sums roll up to the (grp, x, y) frame and feed the
        batch epilogue (windows_sql._welch_from_ux), hash-gated equal
        to welch_t_ab. The live experiment dashboard's primary
        readout, re-derived per epoch from state.

        Scale: ingest is one (user, day)-grain aggregate per batch;
        read is an additive roll-up + the six-sum epilogue — no event
        history, no window, no sort."""
        from ..operators.windows_sql import _welch_from_ux

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "events_day")["spend"]
        return _welch_from_ux(_spend_store_ux(spark, store))

    @register("stream_did", lambda: _REG["diff_in_differences"].oracle)
    def stream_did(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED difference-in-differences — the spend store's
        second reader (one additive ingest, two readouts): same
        resolved (grp, x, y) frame, batch epilogue
        windows_sql._did_from_ux, hash-gated equal to
        diff_in_differences.

        Scale: adds no ingest of its own — the store resolve is
        shared; the epilogue is a 2-row arm aggregate plus a
        broadcast-scalar join."""
        from ..operators.windows_sql import _did_from_ux

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "events_day")["spend"]
        return _did_from_ux(_spend_store_ux(spark, store))


_register_stream_spend_readers()


# --- 22nd store kind: distinct-value count store ---------------------------
#
# The rank-statistics family (Mann–Whitney, winsorized means, exact
# quantiles) consumes distinct-quality-value counts per split — and
# counts at value grain are PURE ADDITION across epochs (no ordering,
# no boundary, no slope: the simplest mergeable algebra in the store
# zoo, which is exactly the point — the heavy part, per-document
# scoring, happens once at ingest and the rank walk reruns only over
# the value-grain frame).
INC_VALCOUNT_EPOCHS = 4


def ingest_valcount_epoch(
    spark: SparkSession, batch_df: DataFrame, epoch_id: int, store: str
) -> None:
    """One value-count maintenance epoch (module-level for the replay
    test): the batch's distinct-value split counts — pure functions of
    the frozen batch, overwrite-idempotent per epoch."""
    from ..operators.windows_sql import _quality_split_counts_of

    (
        _quality_split_counts_of(batch_df)
        .write.mode("overwrite")
        .parquet(f"{store}/counts/epoch={epoch_id}")
    )


def _valcount_per(spark: SparkSession, store: str) -> DataFrame:
    """Resolve the value-count store to the distinct-value count frame
    the rank-statistics epilogues consume (one additive roll-up)."""
    return (
        spark.read.parquet(f"{store}/counts")
        .groupBy("v")
        .agg(
            F.sum("n1v").cast("bigint").alias("n1v"),
            F.sum("n2v").cast("bigint").alias("n2v"),
        )
    )


def _register_stream_rank_readers() -> None:
    from ..plans.registry import QUERIES as _REG

    @register(
        "stream_mann_whitney",
        lambda: _REG["mann_whitney_quality_ab"].oracle,
    )
    def stream_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED Mann–Whitney U — first reader of the
        distinct-value count store (22nd kind; value-grain counts are
        pure addition across epochs, the simplest mergeable algebra in
        the store zoo): the resolved counts feed the batch query's
        value-banded rank walk (windows_sql._mwu_from_counts),
        hash-gated equal to mann_whitney_quality_ab. The split-health
        monitor a curation stream keeps live: per-document scoring
        happens once at ingest; the rank statistic re-derives per
        epoch at distinct-value cost.

        Scale: ingest is one map-only score pass + a value-grain
        aggregate per batch; read is an additive roll-up + the banded
        walk over ≤ ~65 value cells — document text never rescanned."""
        from ..operators.windows_sql import _mwu_from_counts

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "docs")["valcount"]
        return _mwu_from_counts(spark, _valcount_per(spark, store))

    @register(
        "stream_winsorized",
        lambda: _REG["winsorized_quality_ab"].oracle,
    )
    def stream_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED winsorized mean quality — the value-count
        store's second reader (one score-at-ingest pass, two rank
        statistics): same resolved counts, the batch query's exact
        p05/p95 thresholds + clamped-mean epilogue
        (windows_sql._winsorized_from_counts), hash-gated equal to
        winsorized_quality_ab.

        Scale: adds no ingest of its own; the epilogue is the shared
        banded walk + conditional-MIN thresholds + one more
        distinct-value sum."""
        from ..operators.windows_sql import _winsorized_from_counts

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "docs")["valcount"]
        return _winsorized_from_counts(spark, _valcount_per(spark, store))


_register_stream_rank_readers()


def _register_stream_srm() -> None:
    from ..plans.registry import QUERIES as _REG

    @register("stream_srm", lambda: _REG["srm_check"].oracle)
    def stream_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
        """STORE-SERVED sample-ratio-mismatch guardrail — the user-time
        store's FOURTH reader (one min/max-merge ingest now feeds KM,
        log-rank, SPRT, and the assignment guardrail): the resolved
        per-user rows ARE the distinct user set, so the id-parity arm
        counts and the quantized-χ² flag re-derive from state without
        touching event history (windows_sql._srm_from_users, the batch
        epilogue). The check every live experiment dashboard runs
        FIRST, served at user-grain store cost.

        Scale: the shared ingest's O(batch) aggregate per epoch; read
        is one user-grain distinct roll-up to two counts — this entry
        adds no ingest of its own."""
        from ..operators.windows_sql import _srm_from_users

        tune(spark)
        store = _ensure_source_stream(spark, sf_dir, "events_day")["km"]
        u = (
            spark.read.parquet(f"{store}/usertimes")
            .select(
                "user_id",
                (F.col("user_id") % 2).cast("int").alias("grp"),
            )
            .distinct()
        )
        return _srm_from_users(u)


_register_stream_srm()


# The ingest stream of each source, by name (see _ensure_source_stream).
_SOURCES = {
    "docs": _docs_stream,
    "doc_nchars": _doc_nchars_stream,
    "emb_quantized": _emb_quantized_stream,
    "emb_segment": _emb_segment_stream,
    "baskets": _baskets_stream,
    "events_day": _events_day_stream,
    "events_ts": _events_ts_stream,
}
