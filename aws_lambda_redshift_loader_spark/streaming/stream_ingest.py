"""Structured-Streaming ingestion: the production form of the pipeline
(SURVEY §3.1 "Spark lifecycle equivalent").

Where `pipeline.IngestPipeline` mirrors the reference's *event-at-a-time*
control flow (and is the parity/testing surface), this module is the
shape a deployment actually runs:

    spark.readStream.format(cfg.format).load(prefix)      # replaces S1/S2
      → foreachBatch(load_micro_batch)                    # replaces S4-S7
      → checkpointLocation                                # replaces T4/T6

Spark's file source + checkpoint subsumes most of the reference's
control plane natively (SURVEY §4 table):
- new-file discovery per micro-batch  = S3 events + trigger file (S1/S9)
- source option maxFilesPerTrigger / maxBytesPerTrigger = T1/T2 triggers
- Trigger.ProcessingTime              = T3 age trigger
- checkpoint WAL + idempotent foreachBatch(epoch_id) = batch lock/close
  (T4) and the processed-files ledger (T6) — a file is never re-consumed
  across restarts, which is exactly the exactly-once guarantee the
  reference builds from DynamoDB CAS + the ledger table.

What Spark does NOT give natively is the *audit* surface (batch rows,
notifications) and multi-sink all-or-nothing — those reuse sinks.fan_out
and land in parquet control tables, same as the event-at-a-time path.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.reader import configure_reader
from ..sources.routing import LoadConfig, filename_filter_col
from ..session import tune
from .sinks import fan_out


class StreamIngest:
    """One streaming ingest per LoadConfig prefix (the reference deploys
    one Lambda event mapping per configured prefix the same way)."""

    def __init__(
        self,
        spark: SparkSession,
        config: LoadConfig,
        source_dir: str,
        checkpoint_dir: str,
        status_dir: str | None = None,
    ) -> None:
        self.spark = tune(spark)
        self.config = config
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.status_dir = status_dir
        if config.data_format.upper() not in ("CSV", "JSON", "AVRO", "PARQUET", "ORC"):
            raise ValueError(f"unsupported data format {config.data_format}")
        unsupported = [
            f for f in ("max_error", "json_path", "compression")
            if getattr(config, f) is not None
        ]
        if unsupported:
            # Batch-load checks (error budget, JSONPaths projection,
            # codec-vs-extension) that read_files applies and a stream
            # cannot: refuse rather than load differently.
            raise ValueError(
                f"prefix {config.s3_prefix}: {', '.join(unsupported)} "
                "cannot be applied to a stream"
            )
        if config.batch_size and config.batch_size_bytes:
            # Spark's file source refuses maxFilesPerTrigger together with
            # maxBytesPerTrigger, and would only say so at the first
            # trigger (STREAM_FAILED). Refuse the pair here instead.
            raise ValueError(
                f"prefix {config.s3_prefix}: batch_size and batch_size_bytes "
                "cannot both be set for a stream (the file source takes "
                "maxFilesPerTrigger or maxBytesPerTrigger, not both); "
                "set one of them"
            )

    def _reader(self):
        cfg = self.config
        if not cfg.schema:
            raise ValueError(
                "streaming reads require a declared schema "
                "(inference would re-scan history every restart)"
            )
        options = {}
        if cfg.filename_filter_glob:
            # P2 filename filter, pushed to *file listing* (cheaper than a
            # row filter: unmatched files are never opened). This field is
            # a GLOB by contract; the regex form is applied post-read in
            # start() (fail-open, like the reference index.js:212-234).
            options["pathGlobFilter"] = cfg.filename_filter_glob
        if cfg.batch_size:
            options["maxFilesPerTrigger"] = cfg.batch_size  # T1
        if cfg.batch_size_bytes:
            options["maxBytesPerTrigger"] = cfg.batch_size_bytes  # T2
        return configure_reader(self.spark.readStream, cfg, cfg.schema, options)

    def _load_micro_batch(self, df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body = S4-S7: fan-out load + status record.
        Idempotent per epoch_id even under PARTIAL multi-sink failure:
        fan_out threads the epoch through every sink write, so when sink
        2 of 3 fails and the raise below makes Spark replay the epoch,
        the already-loaded sinks replace their `epoch=<id>` partition
        (path) or skip via the in-transaction epoch ledger (JDBC)
        instead of appending duplicates."""
        if self.config.column_list:
            df = df.select(*self.config.column_list)  # P7
        ok, results = fan_out(df, self.config.sinks, epoch_id)
        if self.status_dir:
            status = {
                "epoch_id": epoch_id,
                "s3Prefix": self.config.s3_prefix,
                "ok": ok,
                "results": [
                    {"sink": r.sink, "status": r.status, "error": r.error} for r in results
                ],
                "ts": time.time(),
            }
            os.makedirs(self.status_dir, exist_ok=True)
            with open(os.path.join(self.status_dir, f"epoch-{epoch_id}.json"), "w") as f:
                json.dump(status, f)
        if not ok:
            # Fail the micro-batch → Spark retries it from the checkpoint;
            # the reference instead marks the batch `error` and replays
            # later (its Lambda cannot retry in place). Either way no data
            # is lost and no file is skipped.
            errs = "; ".join(r.error or "" for r in results if r.status == "error")
            raise RuntimeError(f"batch {epoch_id} failed on {errs}")

    def start(self, processing_time: str | None = None, available_now: bool = False):
        """Start the stream. `processing_time` maps the T3 age trigger
        (flush cadence); `available_now=True` drains existing files and
        stops — the backfill/test mode."""
        stream = self._reader().load(self.source_dir)
        if self.config.filename_filter_regex:
            # P2 regex filter, post-read on the source filename (JVM rlike,
            # fail-open on a malformed pattern — the glob field handles the
            # cheaper listing-time pushdown).
            stream = stream.filter(
                filename_filter_col(F.input_file_name(), self.config.filename_filter_regex)
            )
        writer = (
            stream.writeStream.foreachBatch(self._load_micro_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_available(self) -> None:
        """Drain all currently-visible files to the sinks and return."""
        q = self.start(available_now=True)
        try:
            q.awaitTermination()
        finally:
            q.stop()
