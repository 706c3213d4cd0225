"""Sink layer: transactional load + multi-target fan-out + notifications
(reference S4/S5/S6/S7, A5).

Reference behavior (loadRedshiftWithManifest index.js:878-972; loadCluster
index.js:1077-1321): the locked batch's manifest is COPY'd into every
cluster in `loadClusters` in parallel; the batch succeeds only if ALL
clusters succeed (A5 boolean fold, index.js:909-925); per-cluster status
tuples {status, error, cluster} are folded into clusterLoadStatus
(index.js:1047-1067); success/failure is published to SNS
(notify, index.js:1492-1541).

Spark-first shape: the batch's files are read ONCE into a DataFrame,
`.persist()`ed, and written to every sink CONCURRENTLY, one driver
thread per sink, as the reference's `async.map` loads its
`loadClusters` — the fan-out re-reads memory, not S3 (the reference
reads S3 once per cluster; we do better), and a batch costs its slowest
sink rather than the sum. Concurrency is safe because each sink write
is idempotent per epoch on its own (see write_to_sink). Two sinks that
name the same target were already a double load when run one after the
other; that configuration stays out of scope. Sinks:

- path sink (parquet/delta-style directory per table) — the lakehouse
  analog of a warehouse table; atomic via Spark's output committer.
- JDBC sink — the direct COPY replacement, exercised in tests against
  embedded Derby (jars ship inside pyspark). Executors append into a
  staging table in parallel (the COPY analog: N writers, no driver
  bottleneck), then ONE driver-side transaction does
  begin; presql; [delete target]; INSERT..SELECT stage; postsql; commit
  — so the target mutates atomically, exactly the all-or-nothing
  visibility the reference gets from its single wrapped transaction
  (index.js:1098-1231). We use DELETE FROM rather than TRUNCATE for the
  truncate_target option because TRUNCATE implicitly commits in the
  reference's warehouse (and takes table locks in Derby); DELETE keeps
  the whole swap in one transaction — strictly stronger atomicity.
  The target table is created (a 0-row Spark append carrying the
  writer_options) only when a driver-side probe finds it missing; an
  existing target costs no extra Spark job.

A manifest (S6) is written per batch for audit parity: the same
{entries:[{url, mandatory, meta:{content_length}}]} shape the reference
serializes (index.js:824-863).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

from ..session import run_concurrently
from ..sources.routing import ClusterSink


@dataclass
class SinkResult:
    """Per-cluster load status tuple (index.js:1047-1067)."""

    sink: str
    status: str  # "loaded" | "error"
    error: str | None = None


def build_jdbc_url(
    host: str,
    port: int,
    database: str,
    user: str | None = None,
    password_env: str | None = None,
    ssl: bool = True,
    statement_timeout_ms: int | None = None,
    override_env: str = "ALRS_OVERRIDE_DBSTRING",
) -> str:
    """Warehouse connection-string assembly, the JDBC mirror of the
    reference's Postgres conninfo builder (index.js:1233-1252):

    - ``override_env`` (reference `_OVERRIDE_DBSTRING`, index.js:1246-1252):
      when set, the env value IS the connection string — the debug/test
      hook that lets a deployment redirect loads wholesale.
    - ``ssl`` (index.js:1242-1244): the reference appends
      `?ssl=true&sslfactory=<non-validating>`; same options here in
      PostgreSQL-JDBC form.
    - ``statement_timeout_ms`` (index.js:1081-1096): the reference SETs
      statement_timeout per session before COPY; JDBC carries it in the
      `options` startup parameter so every statement on the connection
      inherits it.
    - ``password_env`` is the secrets-indirection analog of kmsCrypto.js:
      configs hold the NAME of an environment variable, never the secret;
      the value is read here, at connect-string build time. A missing
      variable is a hard error (silently connecting unauthenticated is
      how test configs leak into production).
    """
    override = os.environ.get(override_env)
    if override:
        return override
    params: list[str] = []
    if user:
        params.append(f"user={user}")
    if password_env:
        if password_env not in os.environ:
            raise KeyError(f"password env var {password_env} is not set")
        params.append(f"password={os.environ[password_env]}")
    if ssl:
        params.append("ssl=true")
        params.append("sslfactory=org.postgresql.ssl.NonValidatingFactory")
    if statement_timeout_ms is not None:
        params.append(f"options=-c statement_timeout={int(statement_timeout_ms)}")
    url = f"jdbc:postgresql://{host}:{int(port)}/{database}"
    return url + ("?" + "&".join(params) if params else "")


def write_to_sink(df: DataFrame, sink: ClusterSink, epoch_id: int | None = None) -> SinkResult:
    """One transactional load (reference loadCluster, index.js:1077-1321):
    begin; [presql;] [truncate;] COPY [(cols)]; [postsql;] commit.

    With `epoch_id` (streaming foreachBatch), the write is IDEMPOTENT
    under epoch replay — required for multi-sink all-or-nothing: if sink
    2 of 3 fails, the raised error makes Spark replay the whole epoch,
    and sink 1 must not double-load (the reference's all-or-nothing
    batch status, index.js:909-925). Path sinks write the epoch into its
    own `epoch=<id>` partition with overwrite (replay replaces, never
    appends — and the partition column is the batchId audit tag); JDBC
    sinks commit an epoch-ledger row in the same transaction as the data
    and skip epochs already in the ledger."""
    try:
        out = df
        if sink.column_list:
            out = out.select(*sink.column_list)  # P7 (index.js:1157-1161)
        if sink.jdbc_url:
            _write_jdbc(out, sink, epoch_id)
        elif sink.path:
            target = os.path.join(sink.path, sink.target_table)
            # writer_options passthrough (copyOptions analog): e.g.
            # {"compression": "zstd"} for parquet path sinks.
            w = out.write.options(**(sink.writer_options or {}))
            if sink.truncate_target:
                w.mode("overwrite").parquet(target)  # idempotent as-is
            elif epoch_id is not None:
                w.mode("overwrite").parquet(os.path.join(target, f"epoch={int(epoch_id)}"))
            else:
                w.mode("append").parquet(target)
        else:
            raise ValueError(f"sink {sink.target_table} has neither jdbc_url nor path")
        return SinkResult(sink=sink.target_table, status="loaded")
    except Exception as exc:  # per-cluster failure is data, not a crash
        return SinkResult(sink=sink.target_table, status="error", error=str(exc))


def _strip_semi(sql: str) -> str:
    """Reference normalizes trailing ';' on presql/postsql
    (index.js:1103-1105, 1227-1229); JDBC Statement.execute rejects it."""
    return sql.strip().rstrip(";")


def build_swap_statements(
    columns: list[str], sink: ClusterSink, stage: str, epoch_id: int | None = None
) -> list[str]:
    """The single-transaction swap sequence `_write_jdbc` runs after the
    parallel stage append: presql; [DELETE target]; INSERT..SELECT with
    QUOTED (case-preserved) column identifiers — matching how Spark's
    JDBC writer creates tables — ; postsql; [epoch-ledger INSERT].

    A pure function so tests/test_postgres_dialect.py can execute the
    IDENTICAL statements over a real Postgres wire (psql) even though
    the sandbox lacks a pg JDBC jar for the staged-append half."""
    cols = ", ".join(f'"{c}"' for c in columns)
    swap: list[str] = []
    if sink.presql:
        swap.append(_strip_semi(sink.presql))
    if sink.truncate_target:
        swap.append(f"DELETE FROM {sink.target_table}")
    swap.append(
        f"INSERT INTO {sink.target_table} ({cols}) SELECT {cols} FROM {stage}"
    )
    if sink.postsql:
        swap.append(_strip_semi(sink.postsql))
    if epoch_id is not None:
        ledger = f"{sink.target_table}_epochs"
        swap.append(f"INSERT INTO {ledger} VALUES ({int(epoch_id)})")
    return swap


def _write_jdbc(df: DataFrame, sink: ClusterSink, epoch_id: int | None = None) -> None:
    """Transactional warehouse load (loadCluster, index.js:1077-1321).

    Two phases, mirroring how COPY actually scales:
    1. Executors append `df` into a per-load staging table in parallel —
       the COPY ingest analog (every node writes; the driver never holds
       the data).
    2. One driver connection runs, in a single transaction:
       presql; [DELETE FROM target]; INSERT INTO target SELECT .. FROM
       stage; postsql; commit (runPgCommand wraps the same sequence,
       index.js:977-1071 + copyCommand assembly index.js:1098-1231).
       Any failure rolls the target back untouched — the reference's
       all-or-nothing batch contract (index.js:909-925).

    The staging table is dropped afterwards in both outcomes.

    With `epoch_id`, an epoch-ledger row commits atomically WITH the
    data (same transaction) and already-ledgered epochs are skipped —
    exactly-once under streaming epoch replay even though the stage
    append itself re-runs."""
    import uuid

    spark = df.sparkSession
    ledger = f"{sink.target_table}_epochs"
    if epoch_id is not None:
        try:
            _run_jdbc_statements(
                spark, sink, [f"CREATE TABLE {ledger} (epoch BIGINT PRIMARY KEY)"]
            )
        except Exception:
            pass  # already exists
        if _jdbc_scalar(spark, sink, f"SELECT COUNT(*) FROM {ledger} WHERE epoch = {int(epoch_id)}"):
            return  # epoch already committed — replay is a no-op
    stage = f"{sink.target_table}_stage_{uuid.uuid4().hex[:8]}"
    # writer_options passthrough (copyOptions analog): JDBC write tuning
    # such as batchsize / isolationLevel / createTableOptions, applied to
    # both the target create and the parallel stage append.
    extra = sink.writer_options or {}
    if not _jdbc_table_exists(spark, sink, sink.target_table):
        # Create the target with df's schema (Spark creates-on-append).
        # Only a missing table pays this 0-row Spark job.
        df.limit(0).write.format("jdbc").options(
            url=sink.jdbc_url, dbtable=sink.target_table, **extra
        ).mode("append").save()
    df.write.format("jdbc").options(
        url=sink.jdbc_url, dbtable=stage, **extra
    ).mode("overwrite").save()
    swap = build_swap_statements(df.columns, sink, stage, epoch_id)
    try:
        _run_jdbc_statements(spark, sink, swap)
    finally:
        try:
            _run_jdbc_statements(spark, sink, [f"DROP TABLE {stage}"])
        except Exception:
            pass  # stage cleanup is best-effort; the load outcome stands


@contextmanager
def _jdbc_statement(spark, sink: ClusterSink):
    """A driver-side JDBC connection and statement, closed on exit. Uses
    java.sql.DriverManager via the live JVM — no extra deps; the Derby
    embedded driver (and any driver jar on spark.jars) self-registers."""
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(sink.jdbc_url)
    try:
        stmt = conn.createStatement()
        try:
            yield conn, stmt
        finally:
            stmt.close()
    finally:
        conn.close()


def _jdbc_scalar(spark, sink: ClusterSink, query: str) -> int:
    """Driver-side scalar SELECT (epoch-ledger lookups)."""
    with _jdbc_statement(spark, sink) as (_, stmt):
        rs = stmt.executeQuery(query)
        rs.next()
        return int(rs.getLong(1))


def _jdbc_table_exists(spark, sink: ClusterSink, table: str) -> bool:
    """Driver-side existence check with the probe Spark's own JDBC writer
    uses (`SELECT * FROM t WHERE 1=0`): no rows, no Spark job. A failed
    probe reads as missing; the create append then reports any other
    cause (e.g. a permissions error) as the load's error."""
    with _jdbc_statement(spark, sink) as (_, stmt):
        try:
            stmt.executeQuery(f"SELECT * FROM {table} WHERE 1=0").close()
            return True
        except Py4JJavaError:  # java.sql.SQLException: no such table
            return False


def _run_jdbc_statements(spark, sink: ClusterSink, statements: list[str]) -> None:
    """Run statements on ONE driver-side JDBC connection in ONE
    transaction (begin/commit wrapper, index.js:1098-1100, 1234)."""
    with _jdbc_statement(spark, sink) as (conn, stmt):
        conn.setAutoCommit(False)
        try:
            for s in statements:
                stmt.execute(s)
            conn.commit()
        except Exception:
            conn.rollback()
            raise


def fan_out(
    df: DataFrame, sinks: list[ClusterSink], epoch_id: int | None = None
) -> tuple[bool, list[SinkResult]]:
    """S5 multi-cluster fan-out + A5 all-OK fold (index.js:892-970).

    df is persisted once; each sink write reuses the cached rows, so N
    sinks cost one source scan + N writes (the reference costs N full
    S3 re-reads, one per cluster's COPY). The writes run concurrently,
    one thread per sink, like the reference's `async.map` over
    `loadClusters`, so the batch takes as long as its slowest sink; a
    task needing a cached block another writer is still building waits
    for it rather than scanning the source again. Pass `epoch_id` from
    streaming foreachBatch so partial failure + epoch replay can't
    double-load the sinks that already succeeded (see write_to_sink);
    that per-sink idempotence is what makes the concurrent writes safe.
    """
    if not sinks:
        return True, []
    df.persist()
    try:
        results = run_concurrently(
            df.sparkSession,
            [lambda s=s: write_to_sink(df, s, epoch_id) for s in sinks],
            max_workers=len(sinks),
        )
    finally:
        df.unpersist()
    all_ok = all(r.status == "loaded" for r in results)  # A5
    return all_ok, results


def write_manifest(batch, manifest_dir: str) -> str:
    """S6 audit manifest (createManifest, index.js:818-873): the Redshift
    manifest JSON shape, one file per locked batch. Naming mirrors
    common.js:414-431 (date + entropy) via the batch uuid."""
    os.makedirs(manifest_dir, exist_ok=True)
    path = os.path.join(manifest_dir, f"manifest-{batch.batch_id}.json")
    doc = {
        "entries": [
            {
                "url": e.file,
                "mandatory": True,
                "meta": {"content_length": e.size},
            }
            for e in batch.entries
        ]
    }
    with open(path, "w") as f:
        json.dump(doc, f)
    return path


@dataclass
class Notification:
    """S7 SNS message shape (index.js:1508-1541;
    failedBatchReprocessingLambda.js:16-24)."""

    subject: str  # "Lambda Redshift Batch Load {status}"
    batch_id: str
    s3_prefix: str
    status: str
    error: str | None
    ts: float


class NotificationLog:
    """In-engine notifications table replacing the SNS topics: consumers
    (the replay path, S8) read failures from here instead of an event bus.
    Persisted via control_tables.notifications_df."""

    def __init__(self) -> None:
        self.rows: list[Notification] = []

    def notify(self, batch, ok: bool, error: str | None = None) -> Notification:
        n = Notification(
            subject=f"Lambda Redshift Batch Load {'complete' if ok else 'error'}",
            batch_id=batch.batch_id,
            s3_prefix=batch.s3_prefix,
            status=batch.status,
            error=error,
            ts=time.time(),
        )
        self.rows.append(n)
        return n

    def failures(self) -> list[Notification]:
        """What the failure-reprocessing Lambda consumes (S8,
        failedBatchReprocessingLambda.js:99-152)."""
        return [n for n in self.rows if "error" in n.subject]
