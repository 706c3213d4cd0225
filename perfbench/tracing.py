"""Traced mode: spans around the calls into each layer, Spark job counters
per round, and the per-layer metrics computed from them.

Spans are recorded by wrapping the program's public functions from here;
the program itself is not changed. They are kept in memory and written
out when the run ends, each with its self time (its duration minus the
time its child spans cover).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

LAYER_METRICS = (
    "sinks.fan_out_s",
    "sinks.path_write_s",
    "sinks.jdbc_write_s",
    "reader.plan_s",
    "manifest.time_s",
    "pipeline.self_s",
    "routing.time_s",
    "ledger.time_s",
    "batcher.time_s",
)
EPOCH_PHASES = {
    "stream_ingest.latest_offset_s": "latestOffset",
    "stream_ingest.query_planning_s": "queryPlanning",
    "stream_ingest.add_batch_s": "addBatch",
    "stream_ingest.wal_commit_s": "walCommit",
    "stream_ingest.commit_offsets_s": "commitOffsets",
}
SPARK_METRICS = (
    "spark.jobs_per_op",
    "spark.tasks_per_op",
    "spark.executor_s_per_op",
    "spark.busy_ratio",
    "spark.shuffle_bytes_per_op",
    "spark.input_bytes_per_op",
)
OPERATOR_MODULES = (
    "relational", "windows_sql", "batching_sql", "sketches",
    "dedup", "similarity", "text", "multimodal",
)
QUERY_METRICS = (
    ("registry.fn_s", "registry.action_s")
    + tuple(f"operators.{m}.s" for m in OPERATOR_MODULES)
    + ("streaming.stream_queries.s", "streams.started_per_pass", "memos.hit_ratio")
)
UNITS = {"spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
         "spark.busy_ratio": "ratio", "spark.shuffle_bytes_per_op": "bytes",
         "spark.input_bytes_per_op": "bytes", "streams.started_per_pass": "count",
         "memos.hit_ratio": "ratio"}
PER_LAYER = LAYER_METRICS + tuple(EPOCH_PHASES) + SPARK_METRICS + QUERY_METRICS


def unit(name: str) -> str:
    return UNITS.get(name, "s")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.streams_started = 0

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {"id": sid, "parent": stack[-1] if stack else None, "name": name,
               "thread": threading.get_ident(), **attrs}
        stack.append(sid)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span; ``name``
        is a span name or a function of the call's arguments giving one."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name(*args, **kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def reset(self) -> None:
        """Forget spans recorded so far (the warm-up's)."""
        self.spans.clear()
        self.streams_started = 0

    # -- derived figures ---------------------------------------------------

    def with_self_time(self) -> list[dict]:
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        out = []
        for s in sorted(self.spans, key=lambda s: s["t0"]):
            d = s["t1"] - s["t0"]
            out.append({**s, "dur_s": d, "self_s": d - child.get(s["id"], 0.0)})
        return out

    def layer_total(self, prefix: str) -> float:
        """Seconds spent in spans whose name starts with ``prefix``, counting
        a span nested in another of the same layer once."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if not s["name"].startswith(prefix):
                continue
            parent = by_id.get(s["parent"])
            if parent is not None and parent["name"].startswith(prefix):
                continue
            total += s["t1"] - s["t0"]
        return total

    def self_total(self, names: tuple[str, ...]) -> float:
        return sum(s["self_s"] for s in self.with_self_time() if s["name"] in names)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.with_self_time(), fh)


def install_loader_wrappers(tracer: Tracer) -> None:
    """Spans around every layer call the ingest path makes. Names the
    pipeline imported into its own namespace are wrapped there."""
    from aws_lambda_redshift_loader_spark.streaming import pipeline, sinks, stream_ingest
    from aws_lambda_redshift_loader_spark.streaming.batcher import Batcher
    from aws_lambda_redshift_loader_spark.streaming.ledger import ProcessedFilesLedger

    P = pipeline.IngestPipeline
    tracer.wrap(P, "on_file_event", "pipeline.on_file_event")
    tracer.wrap(P, "sweep_all", "pipeline.sweep_all")
    for fn in ("transform_hive_style_prefix", "resolve_config", "filename_filter"):
        tracer.wrap(pipeline, fn, f"routing.{fn}")
    tracer.wrap(pipeline, "read_files", "reader.read_files")
    tracer.wrap(pipeline, "write_manifest", "manifest.write")
    tracer.wrap(pipeline, "fan_out", "sinks.fan_out")
    tracer.wrap(stream_ingest, "fan_out", "sinks.fan_out")
    tracer.wrap(sinks, "write_to_sink",
                lambda df, sink, *a, **k: "sinks.jdbc_write" if sink.jdbc_url else "sinks.path_write")
    for m in ("check_and_claim", "link"):
        tracer.wrap(ProcessedFilesLedger, m, f"ledger.{m}")
    for m in ("add_file", "sweep"):
        tracer.wrap(Batcher, m, f"batcher.{m}")


def install_stream_counter(tracer: Tracer) -> None:
    """Count streaming queries started (by anyone in this process)."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    start = DataStreamWriter.start

    @functools.wraps(start)
    def counted(self, *args, **kwargs):
        tracer.streams_started += 1
        return start(self, *args, **kwargs)

    DataStreamWriter.start = counted


class SparkCounters:
    """Jobs, tasks, executor time and bytes of the Spark jobs run between
    ``mark()`` and ``collect()``, read from the status store after the
    listener bus has drained. The loop is closed, so every job in that
    window belongs to the round."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.totals = {"jobs": 0, "tasks": 0, "exec_s": 0.0, "shuffle_bytes": 0, "input_bytes": 0}
        self._next = 0

    def _next_job_id(self) -> int:
        self.jsc.listenerBus().waitUntilEmpty()
        nxt = self.jsc.dagScheduler().nextJobId()
        return int(nxt if isinstance(nxt, int) else nxt.get())

    def mark(self) -> None:
        self._next = self._next_job_id()

    def collect(self) -> None:
        end = self._next_job_id()
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        for job_id in range(self._next, end):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            self.totals["jobs"] += 1
            for stage_id in info.stageIds:
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # stage evicted or never run (skipped)
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                self.totals["tasks"] += int(st.numTasks())
                self.totals["exec_s"] += int(st.executorRunTime()) / 1000.0
                self.totals["shuffle_bytes"] += int(st.shuffleWriteBytes())
                self.totals["input_bytes"] += int(st.inputBytes())
        self._next = end

    def metrics(self, ops: int, op_seconds: float, width: int) -> dict:
        t = self.totals
        return {
            "spark.jobs_per_op": t["jobs"] / ops,
            "spark.tasks_per_op": t["tasks"] / ops,
            "spark.executor_s_per_op": t["exec_s"] / ops,
            "spark.busy_ratio": t["exec_s"] / (op_seconds * width) if op_seconds > 0 else 0.0,
            "spark.shuffle_bytes_per_op": t["shuffle_bytes"] / ops,
            "spark.input_bytes_per_op": t["input_bytes"] / ops,
        }


def loader_metrics(tracer: Tracer, ops: int) -> dict:
    out = {
        "sinks.fan_out_s": tracer.layer_total("sinks.fan_out"),
        "sinks.path_write_s": tracer.layer_total("sinks.path_write"),
        "sinks.jdbc_write_s": tracer.layer_total("sinks.jdbc_write"),
        "reader.plan_s": tracer.layer_total("reader."),
        "manifest.time_s": tracer.layer_total("manifest."),
        "pipeline.self_s": tracer.self_total(("pipeline.on_file_event", "pipeline.sweep_all")),
        "routing.time_s": tracer.layer_total("routing."),
        "ledger.time_s": tracer.layer_total("ledger."),
        "batcher.time_s": tracer.layer_total("batcher."),
    }
    return {k: v / ops for k, v in out.items()}


def epoch_metrics(progress: list[dict]) -> dict:
    n = len(progress)
    return {
        name: sum(p["durationMs"].get(key, 0) for p in progress) / 1000.0 / n if n else 0.0
        for name, key in EPOCH_PHASES.items()
    }


def query_metrics(tracer: Tracer, ops: int, passes: int, memo_events: list[str]) -> dict:
    out = {
        "registry.fn_s": sum(s["t1"] - s["t0"] for s in tracer.spans if s["name"] == "registry.fn") / ops,
        "registry.action_s": sum(s["t1"] - s["t0"] for s in tracer.spans if s["name"] == "registry.action") / ops,
    }
    per_module: dict[str, float] = {}
    for s in tracer.spans:
        if s["name"].startswith("registry."):
            per_module[s["module"]] = per_module.get(s["module"], 0.0) + s["t1"] - s["t0"]
    for m in OPERATOR_MODULES:
        out[f"operators.{m}.s"] = per_module.get(m, 0.0) / passes
    out["streaming.stream_queries.s"] = per_module.get("stream_queries", 0.0) / passes
    out["streams.started_per_pass"] = tracer.streams_started / passes
    hits = sum(1 for e in memo_events if e.endswith("_hit"))
    builds = sum(1 for e in memo_events if e.endswith("_build"))
    out["memos.hit_ratio"] = hits / (hits + builds) if hits + builds else 0.0
    return out
