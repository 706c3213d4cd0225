"""End-to-end ingestion pipeline tests: the reference's sample golden
outcome (sample/README.md: 5 files, batchSize=2 → 2 complete batches of 2
+ 1 file left in an open batch), tri-threshold triggers, ledger dedup,
failure replay, and the §3.3 operational queries — all against a real
Spark read → parquet sink data plane.
"""

from __future__ import annotations

import os

import pytest

from aws_lambda_redshift_loader_spark.sources.routing import ClusterSink, LoadConfig
from aws_lambda_redshift_loader_spark.streaming import control_tables
from aws_lambda_redshift_loader_spark.streaming.batcher import (
    COMPLETE,
    ERROR,
    LOCKED,
    OPEN,
    REPROCESSED,
    Batcher,
    IllegalTransition,
)
from aws_lambda_redshift_loader_spark.streaming.pipeline import FileEvent, IngestPipeline

T0 = 1_700_000_000.0  # virtual clock base


@pytest.fixture()
def sample_files(tmp_path):
    """The reference sample corpus (sample/data/*.csv): 5 pipe-delimited
    CSVs of 3 ints, 2 rows each."""
    paths = []
    for i in range(1, 6):
        p = tmp_path / "input" / f"sample-file-{i}.csv"
        p.parent.mkdir(parents=True, exist_ok=True)
        base = (i - 1) * 6 + 7
        p.write_text(f"{base}|{base + 1}|{base + 2}\n{base + 3}|{base + 4}|{base + 5}\n")
        paths.append(str(p))
    return paths


def make_pipeline(spark, tmp_path, prefix, **cfg_kw):
    sink_dir = str(tmp_path / "warehouse")
    cfg = LoadConfig(
        s3_prefix=prefix,
        data_format="CSV",
        csv_delimiter="|",
        schema="a INT, b INT, c INT",
        sinks=[ClusterSink(target_table="lambda_redshift_sample", path=sink_dir)],
        **cfg_kw,
    )
    pipe = IngestPipeline(spark, [cfg], manifest_dir=str(tmp_path / "manifests"))
    return pipe, cfg, sink_dir


def test_sample_golden_2_2_1(spark, tmp_path, sample_files):
    """The reference's only behavioral golden assertion (sample/README.md
    final paragraph): batchSize=2, 5 files → two complete batches of two
    files + one file in an open batch; all 8 flushed rows in the sink."""
    prefix = os.path.dirname(sample_files[0])
    pipe, cfg, sink_dir = make_pipeline(
        spark, tmp_path, prefix, batch_size=2, batch_timeout_secs=60
    )
    outcomes = []
    for i, f in enumerate(sample_files):
        out = pipe.on_file_event(FileEvent(key=f, size=os.path.getsize(f), ts=T0 + i))
        if out:
            outcomes.append(out)

    assert len(outcomes) == 2
    assert all(o.ok for o in outcomes)
    assert all(o.batch.status == COMPLETE for o in outcomes)
    assert all(o.batch.entry_count == 2 for o in outcomes)

    batcher = pipe.batchers[prefix]
    assert batcher.current.status == OPEN
    assert batcher.current.entry_count == 1  # the straggler

    # Data plane: 2 flushed batches x 2 files x 2 rows = 8 rows landed.
    loaded = spark.read.parquet(os.path.join(sink_dir, "lambda_redshift_sample"))
    assert loaded.count() == 8
    assert loaded.columns == ["a", "b", "c"]

    # Manifest audit (S6): one manifest per flushed batch, 2 entries each.
    import json

    for o in outcomes:
        with open(o.manifest) as fh:
            doc = json.load(fh)
        assert len(doc["entries"]) == 2
        assert all(e["mandatory"] for e in doc["entries"])

    # Age trigger (T3) then flushes the straggler on the cron sweep (S9).
    swept = pipe.sweep_all(now=T0 + 100)
    assert len(swept) == 1 and swept[0].ok
    assert spark.read.parquet(os.path.join(sink_dir, "lambda_redshift_sample")).count() == 10


def test_ledger_dedup_drops_duplicate_delivery(spark, tmp_path, sample_files):
    """T6/J1: the same S3 event delivered twice loads rows exactly once."""
    prefix = os.path.dirname(sample_files[0])
    pipe, cfg, sink_dir = make_pipeline(spark, tmp_path, prefix, batch_size=2)
    f = sample_files[0]
    pipe.on_file_event(FileEvent(key=f, size=10, ts=T0))
    pipe.on_file_event(FileEvent(key=f, size=10, ts=T0 + 1))  # duplicate
    out = pipe.on_file_event(FileEvent(key=sample_files[1], size=10, ts=T0 + 2))
    assert out is not None and out.ok
    assert out.batch.entry_count == 2  # not 3: duplicate was dropped
    assert pipe.ledger.rows[f].times_received == 2  # A4 counter


def test_bytes_trigger_flush(spark, tmp_path, sample_files):
    """T2: batchSizeBytes crossing flushes even below the count limit."""
    prefix = os.path.dirname(sample_files[0])
    pipe, cfg, _ = make_pipeline(
        spark, tmp_path, prefix, batch_size=100, batch_size_bytes=30
    )
    assert pipe.on_file_event(FileEvent(key=sample_files[0], size=20, ts=T0)) is None
    out = pipe.on_file_event(FileEvent(key=sample_files[1], size=20, ts=T0 + 1))
    assert out is not None and out.batch.size == 40  # crossing file included


def test_filtered_file_still_sweeps_age(spark, tmp_path, sample_files):
    """P2+T3 interplay (index.js:233): a regex-rejected file does not join
    the batch but DOES trigger the age sweep of the pending batch."""
    prefix = os.path.dirname(sample_files[0])
    pipe, cfg, _ = make_pipeline(
        spark, tmp_path, prefix, batch_size=100, batch_timeout_secs=60,
        filename_filter_regex=r"\.csv$",
    )
    pipe.on_file_event(FileEvent(key=sample_files[0], size=10, ts=T0))
    junk = os.path.join(prefix, "not-data.json")
    out = pipe.on_file_event(FileEvent(key=junk, size=1, ts=T0 + 120))
    assert out is not None  # age flush carried the pending batch out
    assert out.batch.entry_count == 1
    assert junk not in [e.file for e in out.batch.entries]
    assert junk not in pipe.ledger.rows  # filtered file never claimed


def test_failure_replay_roundtrip(spark, tmp_path, sample_files):
    """T9/§3.2: a batch that fails (bad sink path) lands in `error`, is
    reprocessed after the sink is fixed, and the files load exactly once."""
    prefix = os.path.dirname(sample_files[0])
    sink = ClusterSink(target_table="t", path=None, jdbc_url=None)  # invalid sink
    cfg = LoadConfig(
        s3_prefix=prefix, data_format="CSV", csv_delimiter="|",
        schema="a INT, b INT, c INT", batch_size=2, sinks=[sink],
    )
    pipe = IngestPipeline(spark, [cfg])
    pipe.on_file_event(FileEvent(key=sample_files[0], size=10, ts=T0))
    out = pipe.on_file_event(FileEvent(key=sample_files[1], size=10, ts=T0 + 1))
    assert out is not None and not out.ok
    assert out.batch.status == ERROR
    assert len(pipe.notifications.failures()) == 1  # S7 failure published

    # Fix the sink, then consume the failure notification (S8 path).
    sink.path = str(tmp_path / "warehouse")
    replayed = pipe.replay_failures()
    assert len(replayed) == 1 and replayed[0].ok
    assert out.batch.status == REPROCESSED
    # previousBatches rotation (common.js:858-889): ledger rows moved on.
    row = pipe.ledger.rows[sample_files[0]]
    assert row.previous_batches == [out.batch.batch_id]
    loaded = spark.read.parquet(os.path.join(str(tmp_path / "warehouse"), "t"))
    assert loaded.count() == 4  # 2 files x 2 rows, exactly once


def test_reprocess_omit_files(spark, tmp_path, sample_files):
    """U2: reprocess with omitFiles excludes them (batchOperations.js:312-344)."""
    prefix = os.path.dirname(sample_files[0])
    pipe, cfg, sink_dir = make_pipeline(spark, tmp_path, prefix, batch_size=2)
    pipe.on_file_event(FileEvent(key=sample_files[0], size=10, ts=T0))
    out = pipe.on_file_event(FileEvent(key=sample_files[1], size=10, ts=T0 + 1))
    assert out.ok
    pipe.reprocess_batch(prefix, out.batch.batch_id, omit_files=[sample_files[0]])
    # Only the non-omitted file re-entered the (still open) batch.
    assert pipe.batchers[prefix].current.files() == [sample_files[1]]


def test_multi_sink_fan_out_all_or_nothing(spark, tmp_path, sample_files):
    """S5/A5: two sinks, one broken → batch is `error` even though the
    good sink loaded (all-clusters-OK fold, index.js:909-925)."""
    prefix = os.path.dirname(sample_files[0])
    good = ClusterSink(target_table="t_good", path=str(tmp_path / "w1"))
    bad = ClusterSink(target_table="t_bad", path=None)
    cfg = LoadConfig(
        s3_prefix=prefix, data_format="CSV", csv_delimiter="|",
        schema="a INT, b INT, c INT", batch_size=1, sinks=[good, bad],
    )
    pipe = IngestPipeline(spark, [cfg])
    out = pipe.on_file_event(FileEvent(key=sample_files[0], size=10, ts=T0))
    assert not out.ok and out.batch.status == ERROR
    statuses = {r.sink: r.status for r in out.results} if out.results else {}
    assert list(statuses.values()).count("loaded") == 1


def test_fan_out_writes_sinks_concurrently_in_callers_job_group(
    spark, tmp_path, jobs_in_group
):
    """S5: the sink writes run on pool threads, like the reference's
    async.map over loadClusters, and each thread inherits the caller's
    job group — so the writes are attributable and cancellable as one
    batch. A thread that did not inherit it would put 0 jobs in it."""
    from aws_lambda_redshift_loader_spark.streaming.sinks import fan_out

    df = spark.createDataFrame([(1, 2, 3), (4, 5, 6)], ["a", "b", "c"])
    sinks = [
        ClusterSink(target_table="t1", path=str(tmp_path / "w1")),
        ClusterSink(target_table="t2", path=str(tmp_path / "w2")),
    ]
    (ok, results), n_jobs = jobs_in_group(
        "fan_out_group", lambda: fan_out(df, sinks)
    )
    assert ok and [r.status for r in results] == ["loaded", "loaded"]
    assert n_jobs >= 2
    for w, t in (("w1", "t1"), ("w2", "t2")):
        got = spark.read.parquet(str(tmp_path / w / t)).collect()
        assert sorted(tuple(r) for r in got) == [(1, 2, 3), (4, 5, 6)]


def test_run_concurrently_gives_each_thunk_its_own_properties(spark, jobs_in_group):
    """Every thunk inherits the caller's local properties (job group)
    on a copy of its own: a property one pool thread sets while another
    runs is invisible to the other. One wrapped function shared across
    tasks would hand both threads the same Properties object, and
    concurrent writes would overwrite each other's execution id."""
    import threading

    from aws_lambda_redshift_loader_spark.session import run_concurrently

    sc = spark.sparkContext
    both = threading.Barrier(2, timeout=30)

    def setter():
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("alrs.test.owner", "setter")
        both.wait()  # the reader runs while this value is set
        both.wait()
        return group

    def reader():
        group = sc.getLocalProperty("spark.jobGroup.id")
        both.wait()
        seen = sc.getLocalProperty("alrs.test.owner")
        both.wait()
        return group, seen

    (g1, (g2, seen)), _ = jobs_in_group(
        "rc_group", lambda: run_concurrently(spark, [setter, reader], max_workers=2)
    )
    assert g1 == g2 == "rc_group"
    assert seen is None
    assert sc.getLocalProperty("alrs.test.owner") is None

    def boom():
        raise RuntimeError("boom")

    done = []
    with pytest.raises(RuntimeError, match="boom"):
        run_concurrently(spark, [boom, lambda: done.append(1)], max_workers=2)
    assert done == [1]  # the sibling still ran to completion


def test_operational_queries_and_unlock(spark, tmp_path, sample_files):
    """§3.3: query by (status, lastUpdate range), describe, unlock, delete."""
    prefix = os.path.dirname(sample_files[0])
    pipe, cfg, _ = make_pipeline(spark, tmp_path, prefix, batch_size=2)
    for i, f in enumerate(sample_files[:4]):
        pipe.on_file_event(FileEvent(key=f, size=10, ts=T0 + i))
    complete = pipe.query_batches(COMPLETE)
    assert len(complete) == 2
    got = pipe.describe_batch(prefix, complete[0].batch_id)
    assert got.batch_id == complete[0].batch_id

    # Manufacture a locked batch, then unlock it back into the open batch.
    batcher = pipe.batchers[prefix]
    pipe.on_file_event(FileEvent(key=sample_files[4], size=10, ts=T0 + 10))
    locked = batcher._lock(batcher.current, T0 + 11)
    assert locked.status == LOCKED
    merged = pipe.unlock_batch(prefix, locked.batch_id)
    assert merged.status == OPEN and merged.entry_count == 1

    assert len(pipe.delete_batches(COMPLETE, dry_run=True)) == 2
    assert len(pipe.query_batches(COMPLETE)) == 2  # dry run deleted nothing
    pipe.delete_batches(COMPLETE, dry_run=False)
    assert pipe.query_batches(COMPLETE) == []


def test_reset_current_batch(spark, tmp_path, sample_files):
    """resetCurrentBatch CLI parity: wedged open batch parked in history,
    fresh uuid rotated onto the config, new events land in the new batch."""
    prefix = os.path.dirname(sample_files[0])
    pipe, cfg, _ = make_pipeline(spark, tmp_path, prefix, batch_size=10)
    pipe.on_file_event(FileEvent(key=sample_files[0], size=10, ts=T0))
    old_id = pipe.batchers[prefix].current.batch_id
    new_id = pipe.reset_current_batch(prefix)
    assert new_id != old_id
    assert cfg.current_batch == new_id
    parked = pipe.describe_batch(prefix, old_id)
    assert parked.status == OPEN and parked.entry_count == 1
    pipe.on_file_event(FileEvent(key=sample_files[1], size=10, ts=T0 + 1))
    assert pipe.batchers[prefix].current.files() == [sample_files[1]]


def test_illegal_status_transition_raises():
    cfg = LoadConfig(s3_prefix="p", batch_size=1)
    b = Batcher(cfg)
    b._rotate()
    with pytest.raises(IllegalTransition):
        b.mark(b.current, COMPLETE)  # open → complete skips locked


def test_control_tables_roundtrip(spark, tmp_path, sample_files):
    """§1.3: control plane surfaces as DataFrames with the documented
    schemas and checkpoints to parquet."""
    prefix = os.path.dirname(sample_files[0])
    pipe, cfg, _ = make_pipeline(spark, tmp_path, prefix, batch_size=2)
    for i, f in enumerate(sample_files[:3]):
        pipe.on_file_event(FileEvent(key=f, size=10, ts=T0 + i))
    bdf = control_tables.batches_df(spark, pipe)
    assert bdf.filter("status = 'complete'").count() == 1
    assert bdf.filter("status = 'open'").count() == 1
    ldf = control_tables.ledger_df(spark, pipe)
    assert ldf.count() == 3
    ndf = control_tables.notifications_df(spark, pipe)
    assert ndf.count() == 1
    ckpt = str(tmp_path / "ckpt")
    control_tables.checkpoint(spark, pipe, ckpt)
    assert spark.read.parquet(f"{ckpt}/batches").count() == bdf.count()
    assert spark.read.parquet(f"{ckpt}/processed_files").count() == 3


def test_hive_partitioned_routing(spark, tmp_path):
    """P4/P5 together: files under hive-style dirs route to the wildcard
    config (transformHiveStylePrefix applied at index.js:1601)."""
    base = str(tmp_path / "lake")
    cfg = LoadConfig(
        s3_prefix=f"{base}/sales/region=*/day=*",
        data_format="CSV", csv_delimiter=",", schema="x INT", batch_size=1,
        sinks=[ClusterSink(target_table="sales", path=str(tmp_path / "w"))],
    )
    pipe = IngestPipeline(spark, [cfg])
    p = tmp_path / "lake" / "sales" / "region=eu" / "day=2024-01-01" / "f.csv"
    p.parent.mkdir(parents=True)
    p.write_text("1\n2\n")
    out = pipe.on_file_event(FileEvent(key=str(p), size=4, ts=T0))
    assert out is not None and out.ok


def test_delete_batches_open_status_rotates_current(spark, tmp_path, sample_files):
    """VERDICT r2 #7: delete_batches('open', dry_run=False) used to crash
    on the live open batch (history.remove(ValueError)) leaving a
    partial delete; the reference deletes the row and lazily recreates
    the open batch (batchOperations.js:227-271)."""
    prefix = os.path.dirname(sample_files[0])
    pipe, cfg, _ = make_pipeline(spark, tmp_path, prefix, batch_size=10)
    pipe.on_file_event(FileEvent(key=sample_files[0], size=10, ts=T0))
    pipe.on_file_event(FileEvent(key=sample_files[1], size=10, ts=T0 + 1))
    open_batches = pipe.query_batches("open")
    assert open_batches  # the live current batch is visible to the query
    assert open_batches[0].entries  # and non-empty (would crash pre-fix)
    victims = pipe.delete_batches("open", dry_run=False)
    assert len(victims) == len(open_batches)
    # Deletion rotated to a fresh, EMPTY open batch; nothing crashed.
    assert all(not b.entries for b in pipe.query_batches("open"))


def test_avro_through_full_pipeline(spark, tmp_path):
    """AVRO end-to-end: engine-authored container files → the full
    ingestion path (config routing, ledger, batcher, sink) — proving the
    pure-Python decoder plugs into the data plane, not just read_files.
    batchSize=2 over 2 files ⇒ one complete batch, 4 rows landed."""
    from aws_lambda_redshift_loader_spark.sources.avro_io import encode_container

    schema = {
        "type": "record",
        "name": "Rec",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
        ],
    }
    prefix = str(tmp_path / "avro_in")
    os.makedirs(prefix, exist_ok=True)
    files = []
    for i in range(2):
        p = os.path.join(prefix, f"part-{i}.avro")
        with open(p, "wb") as fh:
            fh.write(encode_container(schema, [(i * 10, f"x{i}"), (i * 10 + 1, f"y{i}")]))
        files.append(p)

    sink_dir = str(tmp_path / "avro_wh")
    cfg = LoadConfig(
        s3_prefix=prefix,
        data_format="AVRO",
        batch_size=2,
        sinks=[ClusterSink(target_table="avro_target", path=sink_dir)],
    )
    pipe = IngestPipeline(spark, [cfg], manifest_dir=str(tmp_path / "manifests"))
    outcomes = []
    for i, f in enumerate(files):
        out = pipe.on_file_event(FileEvent(key=f, size=os.path.getsize(f), ts=T0 + i))
        if out:
            outcomes.append(out)

    assert len(outcomes) == 1 and outcomes[0].ok
    loaded = spark.read.parquet(os.path.join(sink_dir, "avro_target"))
    assert sorted((r.a, r.b) for r in loaded.collect()) == [
        (0, "x0"), (1, "y0"), (10, "x1"), (11, "y1")
    ]
