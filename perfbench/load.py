"""The ``ingest`` workload: the seeded file drop loaded through both ingest
paths of the program.

One *round* loads the whole drop twice, each time into fresh sinks (a
parquet path sink and an embedded Derby JDBC sink per prefix):

- the event path (``LoadBatches``): the operation is a batch flush. The
  round replays the event log through ``IngestPipeline.on_file_event`` and
  closes with ``sweep_all``; a flush's latency is the ``on_file_event``
  call that returned it. ``sweep_all`` flushes one batch per prefix in one
  call, so each of those flushes is given an equal share of the call.
- the stream path (``StreamLoad``): the operation is a micro-batch epoch.
  Each prefix is drained by ``StreamIngest`` with ``availableNow``; an
  epoch's latency is Spark's own ``triggerExecution`` duration from
  ``recentProgress``: the wall time of the whole epoch, taken in the JVM
  that runs it. This path bypasses the batcher, the ledger and the
  manifests.

The two operations differ in kind and in cost, so the round keeps each
path's latencies apart (``groups``) and the run summarises each path on
its own before combining them (``common.grouped_summary``).

After each round (outside the timed phase) the sinks are read back apart
from the program: path sinks with pyarrow, Derby tables through Spark's
JDBC reader, and each sink's row count and checksum are compared with the
generator's figures.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq

from common import checksum
from gen import AGE_TIMEOUT_S, LOG_T0, SWEEP_AT_OFFSET_S, Drop, PrefixSpec


def _sinks(spec: PrefixSpec, sink_root: str, jdbc_url: str, tag: str):
    from aws_lambda_redshift_loader_spark.sources.routing import ClusterSink

    table = f"{spec.name}_{tag}"
    return [
        ClusterSink(target_table=table, path=sink_root),
        ClusterSink(target_table=table, jdbc_url=jdbc_url),
    ]


def _parquet_rows(path: str, columns: list[str]):
    """Rows of every parquet file under ``path`` (hidden and ``_``-prefixed
    files skipped, as Spark writes them), projected to ``columns``."""
    tables = []
    for dirpath, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                tables.append(pq.read_table(os.path.join(dirpath, f), columns=columns))
    for t in tables:
        yield from zip(*(c.to_pylist() for c in t.columns))


def _jdbc_rows(spark, jdbc_url: str, table: str, columns: list[str]):
    df = spark.read.format("jdbc").options(url=jdbc_url, dbtable=table).load()
    return [tuple(r) for r in df.select(*columns).collect()]


def _drop_jdbc_tables(spark, jdbc_url: str, tables: list[str]) -> None:
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(jdbc_url)
    try:
        stmt = conn.createStatement()
        for t in tables:
            try:
                stmt.execute(f"DROP TABLE {t}")
            except Exception:  # the epoch ledger exists only for streams
                pass
        stmt.close()
    finally:
        conn.close()


def check_sinks(spark, drop: Drop, sink_root: str, jdbc_url: str, tag: str) -> list[str]:
    """Row count and checksum of both sinks of every prefix against the
    generator's figures for the distinct, filter-passing files."""
    errors = []
    for spec in drop.prefixes:
        want = spec.expected()
        table = f"{spec.name}_{tag}"
        got_path = checksum(spec.kinds, _parquet_rows(os.path.join(sink_root, table), spec.columns))
        got_jdbc = checksum(spec.kinds, _jdbc_rows(spark, jdbc_url, table, spec.columns))
        for sink, got in (("path", got_path), ("jdbc", got_jdbc)):
            if got != want:
                errors.append(f"{spec.name} {sink} sink: rows/checksum {got} != {want}")
    return errors


def cleanup(spark, drop: Drop, sink_root: str, jdbc_url: str, tag: str) -> None:
    names = [f"{p.name}_{tag}" for p in drop.prefixes]
    _drop_jdbc_tables(spark, jdbc_url, names + [f"{n}_epochs" for n in names])
    shutil.rmtree(sink_root, ignore_errors=True)


class LoadBatches:
    def __init__(self, spark, drop: Drop, work: str, jdbc_url: str):
        self.spark, self.drop, self.work, self.jdbc_url = spark, drop, work, jdbc_url

    def configs(self, sink_root: str, tag: str):
        from aws_lambda_redshift_loader_spark.sources.routing import LoadConfig

        return [
            LoadConfig(
                s3_prefix=p.s3_prefix,
                data_format=p.data_format,
                csv_delimiter="|",
                schema=p.schema,
                filename_filter_regex=p.filename_filter_regex,
                batch_size=p.batch_size,
                batch_size_bytes=p.batch_size_bytes,
                batch_timeout_secs=AGE_TIMEOUT_S,
                sinks=_sinks(p, sink_root, self.jdbc_url, tag),
            )
            for p in self.drop.prefixes
        ]

    def round(self, tag: str) -> dict:
        """One timed replay of the event log. Returns the flush latencies,
        the flush outcomes, the round's wall time and the pipeline."""
        from aws_lambda_redshift_loader_spark.streaming.pipeline import FileEvent, IngestPipeline

        sink_root = os.path.join(self.work, "sinks", tag)
        pipe = IngestPipeline(
            self.spark, self.configs(sink_root, tag), manifest_dir=os.path.join(sink_root, "manifests")
        )
        latencies: list[float] = []
        t_round = time.perf_counter()
        for i, (key, size) in enumerate(self.drop.log):
            t0 = time.perf_counter()
            out = pipe.on_file_event(FileEvent(key=key, size=size, ts=LOG_T0 + i))
            if out is not None:
                latencies.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        closing = pipe.sweep_all(now=LOG_T0 + len(self.drop.log) + SWEEP_AT_OFFSET_S)
        if closing:
            share = (time.perf_counter() - t0) / len(closing)
            latencies.extend([share] * len(closing))
        wall = time.perf_counter() - t_round
        return {
            "latencies": latencies,
            "attempted": len(pipe.outcomes),
            "failed": sum(1 for o in pipe.outcomes if not o.ok),
            "wall": wall,
            "pipe": pipe,
            "sink_root": sink_root,
        }

    def check(self, res: dict, tag: str) -> list[str]:
        from aws_lambda_redshift_loader_spark.streaming.batcher import COMPLETE

        pipe, drop = res["pipe"], self.drop
        errors = []
        by_prefix = {p.s3_prefix: p.name for p in drop.prefixes}
        expected = drop.expected_batches()
        got: dict[str, list] = {p.name: [] for p in drop.prefixes}
        for o in pipe.outcomes:
            if not o.ok or o.batch.status != COMPLETE:
                errors.append(f"batch {o.batch.batch_id} ended {o.batch.status}")
            entries = [(e.file, e.size) for e in o.batch.entries]
            got[by_prefix[o.batch.s3_prefix]].append(entries)
            with open(o.manifest) as fh:
                doc = json.load(fh)
            listed = [(e["url"], e["meta"]["content_length"]) for e in doc["entries"]]
            if listed != entries:
                errors.append(f"manifest {o.manifest} lists {len(listed)} files, batch has {len(entries)}")
        for name, batches in expected.items():
            if got[name] != batches:
                errors.append(
                    f"{name}: {len(got[name])} flushes, expected {len(batches)} from the threshold"
                )
        deliveries = drop.deliveries()
        rows = pipe.ledger.rows
        for p in drop.prefixes:
            for f in p.files:
                if f.accepted:
                    seen = rows[f.key].times_received if f.key in rows else 0
                    if seen != deliveries[f.key]:
                        errors.append(f"{f.key}: timesReceived {seen} != {deliveries[f.key]} deliveries")
                elif f.key in rows:
                    errors.append(f"{f.key}: filtered file reached the ledger")
        errors += check_sinks(self.spark, drop, res["sink_root"], self.jdbc_url, tag)
        return errors

    def cleanup(self, res: dict, tag: str) -> None:
        cleanup(self.spark, self.drop, res["sink_root"], self.jdbc_url, tag)


class StreamLoad:
    def __init__(self, spark, drop: Drop, work: str, jdbc_url: str):
        self.spark, self.drop, self.work, self.jdbc_url = spark, drop, work, jdbc_url

    def round(self, tag: str) -> dict:
        from aws_lambda_redshift_loader_spark.sources.routing import LoadConfig
        from aws_lambda_redshift_loader_spark.streaming.stream_ingest import StreamIngest

        sink_root = os.path.join(self.work, "sinks", tag)
        latencies: list[float] = []
        progress: list[dict] = []
        failed = 0
        t_round = time.perf_counter()
        for p in self.drop.prefixes:
            cfg = LoadConfig(
                s3_prefix=p.s3_prefix,
                data_format=p.data_format,
                csv_delimiter="|",
                schema=p.schema,
                filename_filter_glob=p.filename_filter_glob,
                batch_size=p.batch_size,
                # StreamIngest passes both triggers to the file source,
                # which refuses maxFilesPerTrigger with maxBytesPerTrigger;
                # a prefix with both keeps the count trigger here.
                batch_size_bytes=0 if p.batch_size else p.batch_size_bytes,
                sinks=_sinks(p, sink_root, self.jdbc_url, tag),
            )
            ingest = StreamIngest(
                self.spark, cfg, p.source_dir, checkpoint_dir=os.path.join(sink_root, "_chk", p.name)
            )
            q = ingest.start(available_now=True)
            try:
                q.awaitTermination()
            except Exception:
                failed += 1
            finally:
                q.stop()
            for prog in q.recentProgress:
                d = json.loads(prog.json) if hasattr(prog, "json") else dict(prog)
                if "addBatch" in d.get("durationMs", {}):
                    progress.append(d)
                    latencies.append(d["durationMs"]["triggerExecution"] / 1000.0)
        wall = time.perf_counter() - t_round
        return {
            "latencies": latencies,
            "attempted": len(latencies) + failed,
            "failed": failed,
            "wall": wall,
            "progress": progress,
            "sink_root": sink_root,
        }

    def check(self, res: dict, tag: str) -> list[str]:
        errors = [f"{res['failed']} stream(s) ended with an error"] if res["failed"] else []
        return errors + check_sinks(self.spark, self.drop, res["sink_root"], self.jdbc_url, tag)

    def cleanup(self, res: dict, tag: str) -> None:
        cleanup(self.spark, self.drop, res["sink_root"], self.jdbc_url, tag)


class Ingest:
    """A round of the event path, then a round of the stream path."""

    def __init__(self, spark, drop: Drop, work: str, jdbc_url: str):
        self.paths = {
            "load_batches": LoadBatches(spark, drop, work, jdbc_url),
            "stream_load": StreamLoad(spark, drop, work, jdbc_url),
        }

    @staticmethod
    def _tag(tag: str, path: str) -> str:
        return f"{tag}{path[0]}"  # r0l, r0s: sink tables per path

    def warm_up(self) -> list[str]:
        """One untimed round, checked."""
        res = self.round("warm")
        errors = self.check(res, "warm")
        self.cleanup(res, "warm")
        return errors

    def round(self, tag: str) -> dict:
        parts = {name: p.round(self._tag(tag, name)) for name, p in self.paths.items()}
        return {
            "latencies": [x for r in parts.values() for x in r["latencies"]],
            "attempted": sum(r["attempted"] for r in parts.values()),
            "failed": sum(r["failed"] for r in parts.values()),
            "wall": sum(r["wall"] for r in parts.values()),
            "progress": parts["stream_load"]["progress"],
            "groups": {name: r["latencies"] for name, r in parts.items()},
            "parts": parts,
        }

    def check(self, res: dict, tag: str) -> list[str]:
        return [
            f"{name}: {e}"
            for name, p in self.paths.items()
            for e in p.check(res["parts"][name], self._tag(tag, name))
        ]

    def cleanup(self, res: dict, tag: str) -> None:
        for name, p in self.paths.items():
            p.cleanup(res["parts"][name], self._tag(tag, name))
