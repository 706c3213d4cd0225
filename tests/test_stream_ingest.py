"""Structured-Streaming ingest tests: exactly-once across restarts (the
checkpoint replaces the reference's ledger+CAS), availableNow drain, and
micro-batch status records."""

from __future__ import annotations

import json
import os

from aws_lambda_redshift_loader_spark.sources.routing import ClusterSink, LoadConfig
from aws_lambda_redshift_loader_spark.streaming.stream_ingest import StreamIngest


def _write_files(src, start, n):
    os.makedirs(src, exist_ok=True)
    for i in range(start, start + n):
        base = i * 6 + 1
        with open(os.path.join(src, f"f{i}.csv"), "w") as f:
            f.write(f"{base}|{base + 1}|{base + 2}\n{base + 3}|{base + 4}|{base + 5}\n")


def _ingest(spark, tmp_path):
    src = str(tmp_path / "in")
    cfg = LoadConfig(
        s3_prefix=src,
        data_format="CSV",
        csv_delimiter="|",
        schema="a INT, b INT, c INT",
        sinks=[ClusterSink(target_table="t", path=str(tmp_path / "warehouse"))],
    )
    return StreamIngest(
        spark,
        cfg,
        source_dir=src,
        checkpoint_dir=str(tmp_path / "ckpt"),
        status_dir=str(tmp_path / "status"),
    )


def test_available_now_drain_and_exactly_once_restart(spark, tmp_path):
    ing = _ingest(spark, tmp_path)
    _write_files(ing.source_dir, 0, 3)
    ing.run_available()
    sink_path = os.path.join(str(tmp_path / "warehouse"), "t")
    assert spark.read.parquet(sink_path).count() == 6  # 3 files x 2 rows

    # Restart with NO new files: checkpoint must prevent any re-load
    # (T4/T6 — the reference needs DynamoDB CAS + ledger for this).
    ing2 = _ingest(spark, tmp_path)
    ing2.run_available()
    assert spark.read.parquet(sink_path).count() == 6

    # New files after restart load exactly once.
    _write_files(ing.source_dir, 3, 2)
    ing3 = _ingest(spark, tmp_path)
    ing3.run_available()
    df = spark.read.parquet(sink_path)
    assert df.count() == 10
    assert df.select("a").distinct().count() == 10  # no duplicated rows

    # Status records (S7 analog) were written per epoch with ok=True.
    statuses = []
    for fn in os.listdir(str(tmp_path / "status")):
        with open(os.path.join(str(tmp_path / "status"), fn)) as f:
            statuses.append(json.load(f))
    assert statuses and all(s["ok"] for s in statuses)
    assert all(r["status"] == "loaded" for s in statuses for r in s["results"])


def test_streaming_requires_declared_schema(spark, tmp_path):
    cfg = LoadConfig(s3_prefix="p", data_format="CSV", schema=None)
    ing = StreamIngest(spark, cfg, "src", "ckpt")
    import pytest

    with pytest.raises(ValueError, match="declared schema"):
        ing._reader()


def test_partial_sink_failure_replay_no_duplicates(spark, tmp_path):
    """VERDICT r2 #6: fail sink 2 of 3 mid-epoch, restart from the
    checkpoint, and assert the sink that had already loaded holds no
    duplicate rows after the replayed epoch succeeds (all-or-nothing,
    reference index.js:909-925)."""
    import pytest

    src = str(tmp_path / "in")
    good1 = ClusterSink(target_table="t", path=str(tmp_path / "wh1"))
    bad = ClusterSink(target_table="t")  # neither path nor jdbc → errors
    good3 = ClusterSink(target_table="t", path=str(tmp_path / "wh3"))
    cfg = LoadConfig(
        s3_prefix=src,
        data_format="CSV",
        csv_delimiter="|",
        schema="a INT, b INT, c INT",
        sinks=[good1, bad, good3],
    )

    def ingest():
        return StreamIngest(
            spark, cfg, source_dir=src,
            checkpoint_dir=str(tmp_path / "ckpt"),
            status_dir=str(tmp_path / "status"),
        )

    _write_files(src, 0, 3)
    with pytest.raises(Exception, match="failed on"):
        ingest().run_available()
    # good1 loaded its epoch before the batch failed on the bad sink.
    assert spark.read.parquet(os.path.join(str(tmp_path / "wh1"), "t")).count() == 6

    # "Fix" sink 2 and restart: Spark replays the uncommitted epoch.
    bad.path = str(tmp_path / "wh2")
    ingest().run_available()
    for wh in ("wh1", "wh2", "wh3"):
        df = spark.read.parquet(os.path.join(str(tmp_path / wh), "t"))
        assert df.count() == 6, f"{wh}: replay duplicated rows"
        assert df.select("a").distinct().count() == 6


def test_jdbc_sink_epoch_replay_idempotent(spark, tmp_path):
    """JDBC epoch ledger: a replayed epoch is a committed no-op."""
    from aws_lambda_redshift_loader_spark.streaming.sinks import write_to_sink

    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])
    sink = ClusterSink(target_table="epoch_t", jdbc_url=url)
    assert write_to_sink(df, sink, epoch_id=7).status == "loaded"
    assert write_to_sink(df, sink, epoch_id=7).status == "loaded"  # replay
    got = spark.read.format("jdbc").options(url=url, dbtable="epoch_t").load()
    assert got.count() == 2  # not 4 — the replay skipped
    assert write_to_sink(df, sink, epoch_id=8).status == "loaded"  # next epoch loads
    assert (
        spark.read.format("jdbc").options(url=url, dbtable="epoch_t").load().count() == 4
    )


def test_glob_pushdown_and_regex_post_filter(spark, tmp_path):
    """P2 in streaming: filename_filter_glob prunes at listing time
    (pathGlobFilter), filename_filter_regex filters post-read on
    input_file_name — a regex is never fed to the glob option (which
    silently dropped every file pre-fix)."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    for name, rows in [("a0.csv", "1|2|3"), ("a1.csv", "4|5|6"), ("skip.dat", "7|8|9")]:
        with open(os.path.join(src, name), "w") as f:
            f.write(rows + "\n")
    cfg = LoadConfig(
        s3_prefix=src,
        data_format="CSV",
        csv_delimiter="|",
        schema="a INT, b INT, c INT",
        filename_filter_glob="*.csv",  # listing-time: excludes skip.dat
        filename_filter_regex=r"a1\.csv$",  # row-time: keeps only a1
        sinks=[ClusterSink(target_table="t", path=str(tmp_path / "wh"))],
    )
    StreamIngest(
        spark, cfg, source_dir=src,
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).run_available()
    rows = spark.read.parquet(os.path.join(str(tmp_path / "wh"), "t")).collect()
    assert [(r.a, r.b, r.c) for r in rows] == [(4, 5, 6)]


def test_incremental_neardup_replay_idempotent(spark, tmp_path):
    """The incremental near-dup ingest's exactly-once contract: replaying
    ANY committed epoch — including after later epochs committed —
    reproduces its original outputs bit-for-bit, and the final pair set
    still equals the batch recompute."""
    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.operators.dedup import _minhash_pairs_plan
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        ingest_neardup_epoch,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(3, "doc_id").write.parquet(src)
    wh, store, pairs = (str(tmp_path / d) for d in ("wh", "store", "pairs"))

    import glob

    files = sorted(glob.glob(f"{src}/part-*"))
    for i, f in enumerate(files):
        ingest_neardup_epoch(spark, spark.read.parquet(f), i, wh, store, pairs)

    def pair_set():
        return {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in spark.read.parquet(pairs).select("doc_a", "doc_b", "jaccard").collect()
        }

    before = pair_set()
    # replay epoch 0 AFTER epochs 1-2 committed (the out-of-order case)
    ingest_neardup_epoch(spark, spark.read.parquet(files[0]), 0, wh, store, pairs)
    assert pair_set() == before, "replayed epoch changed the pair set"
    # and the tail-replay (the case Spark's checkpoint recovery produces)
    last = len(files) - 1
    ingest_neardup_epoch(spark, spark.read.parquet(files[last]), last, wh, store, pairs)
    assert pair_set() == before

    batch = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in _minhash_pairs_plan(spark, sf).collect()
    }
    assert before == batch, "incremental != batch recompute"


def test_incremental_simhash_replay_idempotent(spark, tmp_path):
    """The SimHash store's exactly-once contract, mirroring the near-dup
    test: replaying ANY committed epoch reproduces its outputs (the
    fused write carries the previous epoch's DEFERRED delta — a pure
    function of committed segments, so replays recompute it
    bit-identically, with or without the stashed bucket set), and the
    final pair set (kind=1 rows + the flush) equals the batch
    simhash_neardup_pairs recompute."""
    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.operators.dedup import simhash_neardup_pairs
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        flush_simhash_delta,
        ingest_simhash_epoch,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(3, "doc_id").write.parquet(src)
    store = str(tmp_path / "store")

    import glob

    files = sorted(glob.glob(f"{src}/part-*"))
    bkts = {}
    for i, f in enumerate(files):
        bkts[i] = ingest_simhash_epoch(
            spark, spark.read.parquet(f), i, store, prev_bkts=bkts.get(i - 1)
        )
    last = len(files) - 1
    flush_simhash_delta(spark, store, last, prev_bkts=bkts[last])

    def pair_set():
        return {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in spark.read.parquet(store)
            .filter(F.col("kind") == 1)
            .select("doc_a", "doc_b", "hamming")
            .collect()
        }

    before = pair_set()
    # out-of-order replay (epoch 0 after epochs 1-2 committed)
    ingest_simhash_epoch(spark, spark.read.parquet(files[0]), 0, store)
    assert pair_set() == before
    # tail replay (the checkpoint-recovery case) — no stashed bucket
    # set, the restart path: the delta re-derives it from the segment
    ingest_simhash_epoch(spark, spark.read.parquet(files[last]), last, store)
    assert pair_set() == before
    # flush replay (restart after the stream drained but mid-flush)
    flush_simhash_delta(spark, store, last)
    assert pair_set() == before

    batch = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_neardup_pairs(spark, sf).collect()
    }
    assert before == batch, "incremental != batch recompute"


def test_incremental_cdc_replay_idempotent(spark, tmp_path):
    """The CDC chunk store's exactly-once contract: replaying any epoch
    reproduces its outputs, and the compaction report over the store
    equals the batch cdc_chunks recompute."""
    from aws_lambda_redshift_loader_spark.operators.dedup import cdc_chunks
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        ingest_cdc_epoch,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(3, "doc_id").write.parquet(src)
    store = str(tmp_path / "store")

    import glob

    files = sorted(glob.glob(f"{src}/part-*"))
    for i, f in enumerate(files):
        ingest_cdc_epoch(spark, spark.read.parquet(f), i, store)

    def report():
        chunks = spark.read.parquet(store)
        return {
            tuple(r)
            for r in chunks.groupBy("chunk_hash")
            .agg(
                F.min("chunk_len").cast("bigint").alias("chunk_len"),
                F.count("*").cast("bigint").alias("n_copies"),
                F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            )
            .filter(F.col("n_copies") >= 2)
            .collect()
        }

    before = report()
    ingest_cdc_epoch(spark, spark.read.parquet(files[0]), 0, store)  # out-of-order
    assert report() == before
    ingest_cdc_epoch(spark, spark.read.parquet(files[-1]), len(files) - 1, store)
    assert report() == before
    batch = {tuple(r) for r in cdc_chunks(spark, sf).collect()}
    assert before == batch, "incremental != batch recompute"


def test_band_store_compaction_rebucket_equivalence(spark, tmp_path):
    """Compacting the band store (merge all epochs into one segment with
    a LARGER bucket count — the constant-rows-per-bucket growth policy)
    must not change what subsequent ingest epochs discover: bucket
    membership is a pure function of band_key, so the epoch-2 pair
    delta over the compacted store equals the uncompacted one."""
    from aws_lambda_redshift_loader_spark.streaming import stream_queries as SQ

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(3, "doc_id").write.parquet(src)

    import glob

    files = sorted(glob.glob(f"{src}/part-*"))
    wh = str(tmp_path / "wh")
    store_a, pairs_a = str(tmp_path / "store_a"), str(tmp_path / "pairs_a")
    for i in (0, 1):
        SQ.ingest_neardup_epoch(spark, spark.read.parquet(files[i]), i, wh, store_a, pairs_a)

    # Path A: continue uncompacted.
    SQ.ingest_neardup_epoch(spark, spark.read.parquet(files[2]), 2, wh, store_a, pairs_a)

    # Path B: rebuild a pristine two-epoch store (path A already added
    # its epoch 2 to store_a), compact it into a 4x-bucket segment, then
    # ingest epoch 2 against the compacted store (same docs warehouse).
    store_b, pairs_b = str(tmp_path / "store_b"), str(tmp_path / "pairs_b")
    store_pristine = str(tmp_path / "store_p")
    pairs_p = str(tmp_path / "pairs_p")
    for i in (0, 1):
        SQ.ingest_neardup_epoch(spark, spark.read.parquet(files[i]), i, wh, store_pristine, pairs_p)
    SQ.compact_neardup_store(spark, store_pristine, store_b, SQ.INC_STORE_BKTS * 4)
    old = SQ.INC_STORE_BKTS
    SQ.INC_STORE_BKTS = old * 4
    try:
        SQ.ingest_neardup_epoch(spark, spark.read.parquet(files[2]), 2, wh, store_b, pairs_b)
    finally:
        SQ.INC_STORE_BKTS = old

    delta_a = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in spark.read.parquet(f"{pairs_a}/epoch=2").collect()
    }
    delta_b = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in spark.read.parquet(f"{pairs_b}/epoch=2").collect()
    }
    assert delta_a == delta_b and delta_a, "compaction changed the pair delta"
    # and the compacted segment holds exactly the pre-compaction rows
    n_seg = spark.read.parquet(f"{store_b}/epoch=0").count()
    n_pre = spark.read.parquet(store_pristine).count()
    assert n_seg == n_pre


def test_incremental_winnow_replay_idempotent(spark, tmp_path):
    """The winnowing sketch store's exactly-once contract: replaying any
    epoch reproduces its outputs, and the accumulated store equals the
    batch winnowing_fingerprints recompute."""
    from aws_lambda_redshift_loader_spark.operators.text import winnowing_fingerprints
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        ingest_winnow_epoch,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(3, "doc_id").write.parquet(src)
    store = str(tmp_path / "store")

    import glob

    files = sorted(glob.glob(f"{src}/part-*"))
    for i, f in enumerate(files):
        ingest_winnow_epoch(spark, spark.read.parquet(f), i, store)

    def fp_set():
        return {
            (r["doc_id"], r["fingerprint"])
            for r in spark.read.parquet(store).select("doc_id", "fingerprint").collect()
        }

    before = fp_set()
    ingest_winnow_epoch(spark, spark.read.parquet(files[0]), 0, store)  # out-of-order
    assert fp_set() == before
    ingest_winnow_epoch(spark, spark.read.parquet(files[-1]), len(files) - 1, store)
    assert fp_set() == before
    batch = {
        (r["doc_id"], r["fingerprint"])
        for r in winnowing_fingerprints(spark, sf).collect()
    }
    assert before == batch, "incremental != batch recompute"


def test_incremental_cosine_replay_idempotent(spark, tmp_path):
    """The semantic near-dup store's exactly-once contract: replaying
    any epoch (out-of-order and tail, with or without the stashed
    bucket set) reproduces its outputs, and the union of deferred
    deltas (kind=1 rows + the flush) equals the batch
    embedding_cosine_neardup."""
    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.operators.similarity import (
        _lsh_bits,
        embedding_cosine_neardup,
    )
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        flush_cosine_delta,
        ingest_cosine_epoch,
    )

    sf = "/root/testdata/sf0.001"
    raw = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
    bits = _lsh_bits(raw.count())
    src = str(tmp_path / "src")
    raw.repartitionByRange(3, "vec_id").write.parquet(src)
    store = str(tmp_path / "store")

    import glob

    files = sorted(glob.glob(f"{src}/part-*"))
    bkts = {}
    for i, f in enumerate(files):
        bkts[i] = ingest_cosine_epoch(
            spark, spark.read.parquet(f), i, bits, store,
            prev_bkts=bkts.get(i - 1),
        )
    last = len(files) - 1
    flush_cosine_delta(spark, store, last, prev_bkts=bkts[last])

    def pair_set():
        return {
            (r["keep_id"], r["dup_id"], r["cosine"])
            for r in spark.read.parquet(store)
            .filter(F.col("kind") == 1)
            .select("keep_id", "dup_id", "cosine")
            .collect()
        }

    before = pair_set()
    ingest_cosine_epoch(spark, spark.read.parquet(files[0]), 0, bits, store)
    assert pair_set() == before
    ingest_cosine_epoch(spark, spark.read.parquet(files[-1]), last, bits, store)
    assert pair_set() == before
    flush_cosine_delta(spark, store, last)
    assert pair_set() == before
    batch = {
        (r["keep_id"], r["dup_id"], r["cosine"])
        for r in embedding_cosine_neardup(spark, sf).collect()
    }
    assert before == batch, "incremental != batch recompute"


def test_simhash_and_cosine_store_compaction_equivalence(spark, tmp_path):
    """Compacting the SimHash and cosine stores into 4x-bucket segments
    must leave subsequent epochs' pair deltas bit-identical (same
    contract as the band-store test; bucket membership is a pure
    function of each store's probe key)."""
    from aws_lambda_redshift_loader_spark.operators.similarity import _lsh_bits
    from aws_lambda_redshift_loader_spark.streaming import stream_queries as SQ

    sf = "/root/testdata/sf0.001"
    import glob

    from pyspark.sql import functions as F

    def kind1(path, cols):
        return {
            tuple(r)
            for r in spark.read.parquet(path)
            .filter(F.col("kind") == 1)
            .select(*cols)
            .collect()
        }

    # --- SimHash --- (deltas are deferred: deliver epoch 2's via the
    # flush on each side and compare those)
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    dsrc = str(tmp_path / "dsrc")
    docs.repartitionByRange(3, "doc_id").write.parquet(dsrc)
    dfiles = sorted(glob.glob(f"{dsrc}/part-*"))
    s_a = str(tmp_path / "sstore_a")
    for i in (0, 1):
        SQ.ingest_simhash_epoch(spark, spark.read.parquet(dfiles[i]), i, s_a)
    s_c = str(tmp_path / "sstore_c")
    SQ.compact_simhash_store(spark, s_a, s_c, SQ.INC_STORE_BKTS * 4)
    SQ.ingest_simhash_epoch(
        spark, spark.read.parquet(dfiles[2]), 2, s_a, delta_spec=(s_a, -1)
    )
    SQ.flush_simhash_delta(spark, s_a, 2)
    old = SQ.INC_STORE_BKTS
    SQ.INC_STORE_BKTS = old * 4
    try:
        SQ.ingest_simhash_epoch(
            spark, spark.read.parquet(dfiles[2]), 2, s_c, delta_spec=(s_c, -1)
        )
        SQ.flush_simhash_delta(spark, s_c, 2)
    finally:
        SQ.INC_STORE_BKTS = old
    scols = ["doc_a", "doc_b", "hamming"]
    da = kind1(f"{s_a}/epoch=3", scols)
    db = kind1(f"{s_c}/epoch=3", scols)
    assert da == db and da, "simhash compaction changed the pair delta"

    # --- Cosine ---
    raw = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
    bits = _lsh_bits(raw.count())
    esrc = str(tmp_path / "esrc")
    raw.repartitionByRange(3, "vec_id").write.parquet(esrc)
    efiles = sorted(glob.glob(f"{esrc}/part-*"))
    c_a = str(tmp_path / "cstore_a")
    for i in (0, 1):
        SQ.ingest_cosine_epoch(spark, spark.read.parquet(efiles[i]), i, bits, c_a)
    c_c = str(tmp_path / "cstore_c")
    SQ.compact_cosine_store(spark, c_a, c_c, SQ.INC_STORE_BKTS * 4)
    SQ.ingest_cosine_epoch(
        spark, spark.read.parquet(efiles[2]), 2, bits, c_a, skip_delta=True
    )
    SQ.flush_cosine_delta(spark, c_a, 2)
    SQ.INC_STORE_BKTS = old * 4
    try:
        SQ.ingest_cosine_epoch(
            spark, spark.read.parquet(efiles[2]), 2, bits, c_c, skip_delta=True
        )
        SQ.flush_cosine_delta(spark, c_c, 2)
    finally:
        SQ.INC_STORE_BKTS = old
    ccols = ["keep_id", "dup_id", "cosine"]
    da = kind1(f"{c_a}/epoch=3", ccols)
    db = kind1(f"{c_c}/epoch=3", ccols)
    assert da == db and da, "cosine compaction changed the pair delta"


def test_standing_topk_replay_and_monotone_merge(spark, tmp_path):
    """The standing top-K's contracts: (a) replaying any epoch (which
    recomputes its state version from its predecessor's) reproduces it
    bit-for-bit; (b) the final state equals the batch top-K — the
    monotone-merge induction topK(topK(A) u B) = topK(A u B)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from aws_lambda_redshift_loader_spark.operators.text import _quality_of
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        TOPK_QUALITY_K,
        merge_topk_epoch,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(3, "doc_id").write.parquet(src)
    state = str(tmp_path / "state")

    import glob

    files = sorted(glob.glob(f"{src}/part-*"))
    for i, f in enumerate(files):
        merge_topk_epoch(spark, spark.read.parquet(f), i, state)

    def state_of(e):
        return {
            (r["doc_id"], r["quality_score"], r["rank"])
            for r in spark.read.parquet(f"{state}/epoch={e}").collect()
        }

    final = state_of(len(files) - 1)
    mid = state_of(1)
    # replay epoch 1 (mid-chain) and the tail epoch
    merge_topk_epoch(spark, spark.read.parquet(files[1]), 1, state)
    assert state_of(1) == mid
    merge_topk_epoch(spark, spark.read.parquet(files[-1]), len(files) - 1, state)
    assert state_of(len(files) - 1) == final

    w = W.orderBy(F.col("quality_score").desc(), F.col("doc_id").asc())
    batch = {
        (r["doc_id"], r["quality_score"], r["rank"])
        for r in _quality_of(docs)
        .select("doc_id", "quality_score")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOPK_QUALITY_K)
        .collect()
    }
    assert final == batch, "standing top-K != batch top-K"


def test_incremental_drift_replay_idempotent(spark, tmp_path):
    """The drift store is a mergeable sufficient statistic: replaying any
    epoch overwrites its own partition idempotently, and the merged
    (seg, bin) counts equal the batch histogram of the whole corpus."""
    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        DRIFT_BIN_W,
        INC_DRIFT_EPOCHS,
        ingest_drift_epoch,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "n_chars")
    mx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    segged = docs.withColumn(
        "seg", F.expr(f"int((doc_id * {INC_DRIFT_EPOCHS}) div {int(mx) + 1})")
    )
    src = str(tmp_path / "src")
    for s in range(INC_DRIFT_EPOCHS):
        segged.filter(F.col("seg") == s).coalesce(1).write.parquet(f"{src}/s{s}")
    store = str(tmp_path / "store")

    import glob

    files = sorted(glob.glob(f"{src}/s*/part-*"))
    assert len(files) == INC_DRIFT_EPOCHS
    for i, f in enumerate(files):
        ingest_drift_epoch(spark, spark.read.parquet(f), i, store)

    def merged():
        return {
            (r["seg"], r["bin"], r["c"])
            for r in spark.read.parquet(store)
            .groupBy("seg", "bin")
            .agg(F.sum("cnt").alias("c"))
            .collect()
        }

    before = merged()
    # out-of-order + tail replay
    ingest_drift_epoch(spark, spark.read.parquet(files[1]), 1, store)
    assert merged() == before
    last = len(files) - 1
    ingest_drift_epoch(spark, spark.read.parquet(files[last]), last, store)
    assert merged() == before

    batch = {
        (r["seg"], r["bin"], r["c"])
        for r in segged.groupBy(
            "seg", F.expr(f"n_chars div {DRIFT_BIN_W}").alias("bin")
        )
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert before == batch, "incremental histogram != batch histogram"


def test_incremental_cc_replay_idempotent_and_equals_batch(spark, tmp_path):
    """Warm-start incremental CC (ingest_cc_epoch): after any epoch the
    RESOLVED label store equals the batch connected components over the
    accumulated pairs, and replaying any committed epoch — including
    after later epochs committed — leaves the resolved labels unchanged
    (every write reads only epochs strictly before itself)."""
    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.operators.dedup import (
        connected_components,
    )
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        ingest_cc_epoch,
        ingest_neardup_epoch,
        resolve_incremental_labels,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(3, "doc_id").write.parquet(src)
    wh, store, pairs, cc = (
        str(tmp_path / d) for d in ("wh", "store", "pairs", "cc")
    )

    import glob

    files = sorted(glob.glob(f"{src}/part-*"))
    for i, f in enumerate(files):
        ingest_neardup_epoch(spark, spark.read.parquet(f), i, wh, store, pairs)
        ingest_cc_epoch(spark, i, pairs, cc)

    def resolved():
        return {
            (r["doc_id"], r["cluster_id"])
            for r in resolve_incremental_labels(spark, cc).collect()
        }

    batch = {
        (r["node"], r["cluster_id"])
        for r in connected_components(
            spark,
            spark.read.parquet(pairs).select("doc_a", "doc_b"),
            "doc_a",
            "doc_b",
        ).collect()
    }
    before = resolved()
    assert before == batch, "incremental CC != batch CC over accumulated pairs"

    # out-of-order replay (epoch 0 after epochs 1-2 committed)
    ingest_cc_epoch(spark, 0, pairs, cc)
    assert resolved() == before, "replayed CC epoch changed the labels"
    # tail replay (what checkpoint recovery actually produces)
    last = len(files) - 1
    ingest_cc_epoch(spark, last, pairs, cc)
    assert resolved() == before


def test_incremental_cc_frames_path_equals_fast_path(spark, tmp_path):
    """The above-gate DataFrame path (_ingest_cc_epoch_frames +
    connected_components' distributed machinery) must write stores that
    RESOLVE identically to the driver fast path — the gate may not
    change semantics (the dedup CC_LOCAL_EDGE_MAX contract)."""
    import glob

    from aws_lambda_redshift_loader_spark.streaming import stream_queries as sq

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(3, "doc_id").write.parquet(src)
    files = sorted(glob.glob(f"{src}/part-*"))

    def run(tag, gate):
        wh, store, pairs, cc = (
            str(tmp_path / f"{tag}_{d}") for d in ("wh", "store", "pairs", "cc")
        )
        old = sq.INC_CC_LOCAL_MAX
        sq.INC_CC_LOCAL_MAX = gate
        try:
            for i, f in enumerate(files):
                sq.ingest_neardup_epoch(
                    spark, spark.read.parquet(f), i, wh, store, pairs
                )
                sq.ingest_cc_epoch(spark, i, pairs, cc)
        finally:
            sq.INC_CC_LOCAL_MAX = old
        return {
            (r["doc_id"], r["cluster_id"])
            for r in sq.resolve_incremental_labels(spark, cc).collect()
        }

    assert run("fast", 1_000_000) == run("frames", 0)


def test_simhash_midstream_compaction_replay_and_batch_equal(spark, tmp_path):
    """Compaction INSIDE the epoch loop: epochs 0-1 ingest into the
    original store, epoch 2 first merges them into a 4x-bucket store and
    continues there — the final pair set must equal the batch recompute,
    and replaying epochs on either side of the compaction point (which
    re-runs the compaction itself) must not change it."""
    import glob

    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.operators.dedup import simhash_neardup_pairs
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        flush_simhash_delta,
        simhash_epoch_with_compaction,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(4, "doc_id").write.parquet(src)
    store, store2 = (str(tmp_path / d) for d in ("store", "store2"))
    files = sorted(glob.glob(f"{src}/part-*"))
    assert len(files) == 4

    # Replays run WITHOUT the stashed bucket sets (the restart path):
    # the deferred delta re-derives them from the committed segments.
    def run_epoch(i):
        simhash_epoch_with_compaction(
            spark, spark.read.parquet(files[i]), i, store, store2, {}
        )

    for i in range(4):
        run_epoch(i)
    flush_simhash_delta(spark, store2, 3)

    def pair_set():
        out = set()
        for s in (store, store2):
            out |= {
                (r["doc_a"], r["doc_b"], r["hamming"])
                for r in spark.read.parquet(s)
                .filter(F.col("kind") == 1)
                .select("doc_a", "doc_b", "hamming")
                .collect()
            }
        return out

    before = pair_set()
    batch = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_neardup_pairs(spark, sf).collect()
    }
    assert before == batch, "compacted incremental != batch recompute"

    run_epoch(1)  # pre-compaction replay (old store, old buckets)
    assert pair_set() == before
    run_epoch(2)  # the compaction epoch itself (re-runs the merge)
    assert pair_set() == before
    run_epoch(3)  # post-compaction tail replay
    assert pair_set() == before
    flush_simhash_delta(spark, store2, 3)  # flush replay
    assert pair_set() == before


def test_cc_midstream_compaction_replay_and_equals_batch(spark, tmp_path):
    """Label-store compaction inside the epoch loop: epochs 0-1 maintain
    the original stores, epoch 2 snapshots the resolved labels and
    continues against the compacted pair — the final resolution must
    equal batch CC over all pairs, and replays on either side of the
    compaction point (re-running the snapshot itself) change nothing."""
    import glob

    from aws_lambda_redshift_loader_spark.operators.dedup import (
        connected_components,
    )
    from aws_lambda_redshift_loader_spark.streaming import stream_queries as sq

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(4, "doc_id").write.parquet(src)
    wh, store, pairs, cca, ccb = (
        str(tmp_path / d) for d in ("wh", "store", "pairs", "cca", "ccb")
    )
    files = sorted(glob.glob(f"{src}/part-*"))
    assert len(files) == 4

    def run_epoch(i):
        sq.ingest_neardup_epoch(spark, spark.read.parquet(files[i]), i, wh, store, pairs)
        sq.cc_epoch_with_compaction(spark, i, pairs, cca, ccb)

    for i in range(4):
        run_epoch(i)

    def resolved():
        return {
            (r["doc_id"], r["cluster_id"])
            for r in sq.resolve_incremental_labels(spark, ccb).collect()
        }

    batch = {
        (r["node"], r["cluster_id"])
        for r in connected_components(
            spark,
            spark.read.parquet(pairs).select("doc_a", "doc_b"),
            "doc_a",
            "doc_b",
        ).collect()
    }
    before = resolved()
    assert before == batch, "compacted incremental CC != batch CC"

    sq.cc_epoch_with_compaction(spark, 1, pairs, cca, ccb)  # pre-compaction replay
    assert resolved() == before
    sq.cc_epoch_with_compaction(spark, 2, pairs, cca, ccb)  # snapshot epoch replay
    assert resolved() == before
    sq.cc_epoch_with_compaction(spark, 3, pairs, cca, ccb)  # tail replay
    assert resolved() == before


def test_kmv_state_replay_and_monotone_merge(spark, tmp_path):
    """The standing KMV sketch's contracts: (a) replaying any epoch
    (recomputed from its predecessor's on-disk version) reproduces it
    bit-for-bit; (b) the final state equals the batch sketch — the
    monotone merge kmvK(kmvK(A) u B) = kmvK(A u B)."""
    import glob

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from aws_lambda_redshift_loader_spark.functions.scalar import (
        hex_hash64,
        norm_text,
    )
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        STREAM_KMV_K,
        merge_kmv_epoch,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    src = str(tmp_path / "src")
    docs.repartitionByRange(3, "doc_id").write.parquet(src)
    state = str(tmp_path / "state")
    files = sorted(glob.glob(f"{src}/part-*"))
    for i, f in enumerate(files):
        merge_kmv_epoch(spark, spark.read.parquet(f), i, state)
    last = len(files) - 1

    def state_set(e):
        return {
            (r["lang"], r["hv"])
            for r in spark.read.parquet(f"{state}/epoch={e}").collect()
        }

    before = state_set(last)
    # tail replay: recomputed from the predecessor version on disk
    merge_kmv_epoch(spark, spark.read.parquet(files[last]), last, state)
    assert state_set(last) == before
    # batch equality: k smallest per lang over the whole corpus
    hv = (
        docs.select(
            "lang",
            F.explode(F.array_distinct(F.split(norm_text("text"), " "))).alias("tok"),
        )
        .select("lang", hex_hash64(F.col("tok"), salt="skmv|").alias("hv"))
        .distinct()
    )
    w = W.partitionBy("lang").orderBy(F.col("hv").asc())
    batch = {
        (r["lang"], r["hv"])
        for r in hv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STREAM_KMV_K)
        .select("lang", "hv")
        .collect()
    }
    assert before == batch, "standing KMV state != batch sketch"


def test_cms_store_replay_and_linear_merge(spark, tmp_path):
    """The streaming CMS store's contracts: (a) replaying any epoch
    (pure function of its own batch) reproduces it; (b) summing the
    per-epoch counters per (i, bucket) equals the batch-built sketch —
    CMS linearity."""
    import glob

    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.functions.scalar import norm_text
    from aws_lambda_redshift_loader_spark.operators.sketches import _cms_of
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        ingest_cms_epoch,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartitionByRange(3, "doc_id").write.parquet(src)
    store = str(tmp_path / "store")
    files = sorted(glob.glob(f"{src}/part-*"))
    for i, f in enumerate(files):
        ingest_cms_epoch(spark, spark.read.parquet(f), i, store)

    def epoch_counters(e):
        return {
            (r["i"], r["bucket"], r["c"])
            for r in spark.read.parquet(f"{store}/epoch={e}").collect()
        }

    before = epoch_counters(0)
    ingest_cms_epoch(spark, spark.read.parquet(files[0]), 0, store)
    assert epoch_counters(0) == before
    merged = {
        (r["i"], r["bucket"], r["c"])
        for r in spark.read.parquet(store)
        .groupBy("i", "bucket")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .collect()
    }
    tokens = docs.select(F.explode(F.split(norm_text("text"), " ")).alias("token"))
    batch = {(r["i"], r["bucket"], r["c"]) for r in _cms_of(tokens).collect()}
    assert merged == batch, "summed per-epoch CMS != batch CMS"


def test_ivf_midstream_centroid_refresh_replay_and_batch_equal(spark, tmp_path):
    """Centroid refresh INSIDE the epoch loop (round-11 verdict item 4):
    epochs 0-1 assign with the stale deploy-time quantizer, epoch 2
    retrains on the ingested-so-far id prefix and re-buckets the
    accumulated postings into store2, epochs 2-3 ingest there — the
    refreshed store must equal the batch recompute (every vector
    assigned against the refreshed centroids), and replaying epochs on
    either side of the refresh point (which re-runs the re-bucket
    itself) must not change it."""
    import glob

    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.operators.similarity import (
        _assign_cells,
        _quantize,
    )
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_IVF_EPOCHS,
        INC_IVF_REFRESH_AT,
        _ivf_geometry,
        ivf_epoch_with_refresh,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    src = str(tmp_path / "src")
    emb.repartitionByRange(INC_IVF_EPOCHS, "vec_id").write.parquet(src)
    store, store2 = (str(tmp_path / d) for d in ("store", "store2"))
    files = sorted(glob.glob(f"{src}/part-*"))
    assert len(files) == INC_IVF_EPOCHS

    # Replays run with a FRESH geometry memo each call (the restart
    # path): both quantizers must re-derive identically from sf alone.
    def run_epoch(i):
        ivf_epoch_with_refresh(
            spark, spark.read.parquet(files[i]), i, store, store2, sf, {}
        )

    for i in range(INC_IVF_EPOCHS):
        run_epoch(i)

    def posting_set():
        return {
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(store2)
            .select("vec_id", "cell")
            .collect()
        }

    before = posting_set()
    ids2, cent2 = _ivf_geometry(spark, sf, INC_IVF_REFRESH_AT)
    batch = {
        (r["vec_id"], r["cell"])
        for r in _assign_cells(emb, ids2, cent2).select("vec_id", "cell").collect()
    }
    assert before == batch, "refreshed incremental != batch recompute"

    run_epoch(1)  # pre-refresh replay (stale quantizer, old store)
    assert posting_set() == before
    run_epoch(INC_IVF_REFRESH_AT)  # the refresh epoch (re-runs re-bucket)
    assert posting_set() == before
    run_epoch(3)  # post-refresh tail replay
    assert posting_set() == before


def test_incremental_skyline_replay_and_batch_equal(spark, tmp_path):
    """Frontier maintenance: the epoch snapshot is a pure function of
    (previous snapshot, frozen batch file), so replays on any side
    rewrite identical content, and the final snapshot joined back to
    the dimension equals the batch skyline."""
    import glob

    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.plans.registry import load_all
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_SKY_EPOCHS,
        ingest_skyline_epoch,
    )

    sf = "/root/testdata/sf0.001"
    p = spark.read.parquet(f"{sf}/part.parquet")
    src = str(tmp_path / "src")
    p.repartitionByRange(INC_SKY_EPOCHS, "p_partkey").write.parquet(src)
    store = str(tmp_path / "store")
    files = sorted(glob.glob(f"{src}/part-*"))
    assert len(files) == INC_SKY_EPOCHS

    def run_epoch(i):
        ingest_skyline_epoch(spark, spark.read.parquet(files[i]), i, store)

    for i in range(INC_SKY_EPOCHS):
        run_epoch(i)

    def frontier():
        return {
            (r["price"], r["ms"])
            for r in spark.read.parquet(
                f"{store}/epoch={INC_SKY_EPOCHS - 1}"
            ).collect()
        }

    before = frontier()
    batch = {
        (r["p_retailprice"], float(r["p_size"]))
        for r in load_all()["pareto_skyline_parts"]
        .fn(spark, sf)
        .select("p_retailprice", "p_size")
        .distinct()
        .collect()
    }
    assert before == batch, "incremental frontier != batch skyline coords"

    run_epoch(1)  # mid-stream replay (reads frozen epoch-0 snapshot)
    run_epoch(3)  # tail replay
    assert frontier() == before


def test_incremental_gram_replay_and_batch_equal(spark, tmp_path):
    """Moment-matrix store: each epoch's partial Gram is a pure function
    of its frozen batch file (replay rewrites identical bytes), and the
    store-summed matrix equals the one-pass batch Gram exactly —
    moments are additive over any row partition."""
    import glob

    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.operators.similarity import (
        _gram_partials,
        _quantize,
    )
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_GRAM_EPOCHS,
        ingest_gram_epoch,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    src = str(tmp_path / "src")
    emb.repartitionByRange(INC_GRAM_EPOCHS, "vec_id").write.parquet(src)
    store = str(tmp_path / "store")
    files = sorted(glob.glob(f"{src}/part-*"))
    assert len(files) == INC_GRAM_EPOCHS

    def run_epoch(i):
        ingest_gram_epoch(spark, spark.read.parquet(files[i]), i, store)

    for i in range(INC_GRAM_EPOCHS):
        run_epoch(i)

    def summed():
        return {
            (r["gi"], r["gj"]): r["g"]
            for r in spark.read.parquet(store)
            .groupBy("gi", "gj")
            .agg(F.sum("g").alias("g"))
            .collect()
        }

    before = summed()
    batch = {
        (r["gi"], r["gj"]): r["g"] for r in _gram_partials(emb).collect()
    }
    assert before == batch, "store-summed Gram != one-pass batch Gram"

    run_epoch(0)
    run_epoch(2)
    assert summed() == before


def test_incremental_skyline3d_replay_and_batch_equal(spark, tmp_path):
    """3-D frontier maintenance: same purity argument as the 2-D store
    (snapshot = pure function of previous snapshot + frozen batch), but
    the recurrence is the general dominance anti-join; the final
    snapshot must equal the batch 3-D skyline's coordinate set."""
    import glob

    from aws_lambda_redshift_loader_spark.plans.registry import load_all
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_SKY3D_EPOCHS,
        ingest_skyline3d_epoch,
    )

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    )
    src = str(tmp_path / "src")
    li.repartitionByRange(INC_SKY3D_EPOCHS, "l_orderkey").write.parquet(src)
    store = str(tmp_path / "store")
    files = sorted(glob.glob(f"{src}/part-*"))
    assert len(files) == INC_SKY3D_EPOCHS

    def run_epoch(i):
        ingest_skyline3d_epoch(spark, spark.read.parquet(files[i]), i, store)

    for i in range(INC_SKY3D_EPOCHS):
        run_epoch(i)

    def frontier():
        return {
            (r["p"], r["x"], r["d"])
            for r in spark.read.parquet(
                f"{store}/epoch={INC_SKY3D_EPOCHS - 1}"
            ).collect()
        }

    before = frontier()
    batch = {
        (r["l_extendedprice"], r["l_tax"], r["l_discount"])
        for r in load_all()["pareto_skyline_lineitem_3d"]
        .fn(spark, sf)
        .select("l_extendedprice", "l_tax", "l_discount")
        .distinct()
        .collect()
    }
    assert before == batch, "incremental 3-D frontier != batch skyline coords"

    run_epoch(1)  # mid-stream replay (reads frozen epoch-0 snapshot)
    run_epoch(3)  # tail replay
    assert frontier() == before


def test_incremental_gann_replay_and_batch_graph_equal(spark, tmp_path):
    """Graph-ANN edge maintenance: the resolved store graph must equal
    the batch multi-probe kNN graph exactly (every per-epoch prune is a
    lossless subset of the batch candidate set), and replaying any
    epoch — including after later epochs committed — must leave the
    resolved graph unchanged (each delta reads only epochs ≤ its own,
    so frozen inputs reproduce frozen outputs)."""
    import glob

    from aws_lambda_redshift_loader_spark.operators.similarity import (
        GANN_BUILD_PROBE,
        IVF_TRAIN_ITERS,
        _gann_edges,
        _kmeans_centroids,
        _probe_assign,
        _quantize,
    )
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_GANN_EPOCHS,
        ingest_gann_epoch,
        resolve_gann_graph,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    ids, cent = _kmeans_centroids(spark, emb, IVF_TRAIN_ITERS)
    src = str(tmp_path / "src")
    emb.repartitionByRange(INC_GANN_EPOCHS, "vec_id").write.parquet(src)
    postings = str(tmp_path / "postings")
    edges_dir = str(tmp_path / "edges")
    files = sorted(glob.glob(f"{src}/part-*"))
    assert len(files) == INC_GANN_EPOCHS

    def run_epoch(i):
        ingest_gann_epoch(
            spark, spark.read.parquet(files[i]), i, postings, edges_dir, ids, cent
        )

    for i in range(INC_GANN_EPOCHS):
        run_epoch(i)

    def graph():
        return {
            (r["src"], r["dst"])
            for r in resolve_gann_graph(spark, edges_dir).collect()
        }

    before = graph()
    batch = {
        (r["src"], r["dst"])
        for r in _gann_edges(
            _probe_assign(emb, ids, cent, GANN_BUILD_PROBE)
        ).collect()
    }
    assert before == batch, "resolved store graph != batch kNN graph"

    run_epoch(1)  # mid-stream replay (later epochs already committed)
    run_epoch(3)  # tail replay
    assert graph() == before


def test_ivf_drift_refresh_replay_and_batch_equal(spark, tmp_path):
    """Drift-TRIGGERED refresh (round-14): the refresh epoch is derived
    from the moment store's drift series instead of a constant, and
    must still be replay-safe — R, both geometries, and the routing
    are pure functions of (sf_dir, epoch_id), so replaying epochs on
    either side of the fired epoch (fresh geometry memo each call, the
    restart path) leaves the refreshed store equal to the batch
    recompute against the drift-chosen prefix geometry."""
    import glob

    from aws_lambda_redshift_loader_spark.operators.similarity import (
        _assign_cells,
        _quantize,
    )
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_IVF_EPOCHS,
        _drift_refresh_step,
        _ensure_emb_segment_split,
        _ivf_range_geometry,
        ivf_epoch_with_drift_refresh,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    # The router's prefix semantics require the deterministic id-segment
    # split (epoch k == segment k), not sampled range boundaries.
    src = _ensure_emb_segment_split(spark, sf)
    store, store2 = (str(tmp_path / d) for d in ("store", "store2"))
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert len(files) == INC_IVF_EPOCHS

    R = _drift_refresh_step(spark, sf)
    assert R == 2, f"sf0.001 drift series should fire at step 2, got {R}"

    def run_epoch(i):
        ivf_epoch_with_drift_refresh(
            spark, spark.read.parquet(files[i]), i, store, store2, sf, {}
        )

    for i in range(INC_IVF_EPOCHS):
        run_epoch(i)

    def posting_set():
        return {
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(store2)
            .select("vec_id", "cell")
            .collect()
        }

    before = posting_set()
    ids2, cent2 = _ivf_range_geometry(spark, sf, R)
    batch = {
        (r["vec_id"], r["cell"])
        for r in _assign_cells(emb, ids2, cent2).select("vec_id", "cell").collect()
    }
    assert before == batch, "drift-refreshed incremental != batch recompute"

    run_epoch(0)  # pre-refresh replay (stale quantizer, old store)
    assert posting_set() == before
    run_epoch(R - 1)  # the fired epoch (re-runs the re-bucket)
    assert posting_set() == before
    run_epoch(3)  # post-refresh tail replay
    assert posting_set() == before


def test_incremental_packing_replay_and_batch_equal(spark, tmp_path):
    """Packing maintenance (13th store kind, the order-dependent one):
    each epoch's plan rows are a pure function of (frozen previous
    totals, frozen batch file), so replays on any side rewrite
    identical content, and the accumulated plan equals the batch
    two-level prefix-sum plan row for row."""
    import glob

    from aws_lambda_redshift_loader_spark.operators.text import _pack_plan
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_PACK_EPOCHS,
        _ensure_doc_split,
        ingest_packing_epoch,
    )

    sf = "/root/testdata/sf0.001"
    src = _ensure_doc_split(spark, sf, INC_PACK_EPOCHS)
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert len(files) == INC_PACK_EPOCHS
    store = str(tmp_path / "store")

    def run_epoch(i):
        ingest_packing_epoch(spark, spark.read.parquet(files[i]), i, store)

    for i in range(INC_PACK_EPOCHS):
        run_epoch(i)

    def plan_rows():
        return {
            (r["doc_id"], r["lang"], r["n_tokens"], r["startpos"])
            for r in spark.read.parquet(f"{store}/plan").collect()
        }

    before = plan_rows()
    batch = {
        (r["doc_id"], r["lang"], r["n_tokens"], r["startpos"])
        for r in _pack_plan(spark, sf).collect()
    }
    assert before == batch, "stream-maintained packing plan != batch plan"

    run_epoch(1)  # mid-stream replay (reads frozen epoch-0 totals)
    run_epoch(3)  # tail replay
    assert plan_rows() == before


def test_incremental_gann_hier_upper_store_replay_and_batch_equal(spark, tmp_path):
    """The hierarchical maintenance's UPPER edge store: resolved graph
    must equal the batch upper-layer kNN graph (same multi-probe rule
    restricted to every GANN_UPPER_MODth node — the subset argument
    carries verbatim), and replaying epochs must not change it."""
    import glob

    from aws_lambda_redshift_loader_spark.operators.similarity import (
        GANN_BUILD_PROBE,
        GANN_UPPER_MOD,
        IVF_TRAIN_ITERS,
        _gann_edges,
        _kmeans_centroids,
        _probe_assign,
        _quantize,
    )
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_GANN_EPOCHS,
        ingest_gann_hier_epoch,
        resolve_gann_graph,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    ids, cent = _kmeans_centroids(spark, emb, IVF_TRAIN_ITERS)
    src = str(tmp_path / "src")
    emb.repartitionByRange(INC_GANN_EPOCHS, "vec_id").write.parquet(src)
    postings, edges_dir, uedges_dir = (
        str(tmp_path / d) for d in ("postings", "edges", "uedges")
    )
    files = sorted(glob.glob(f"{src}/part-*"))

    def run_epoch(i):
        ingest_gann_hier_epoch(
            spark, spark.read.parquet(files[i]), i, postings,
            edges_dir, uedges_dir, ids, cent,
        )

    for i in range(INC_GANN_EPOCHS):
        run_epoch(i)

    def ugraph():
        return {
            (r["src"], r["dst"])
            for r in resolve_gann_graph(spark, uedges_dir).collect()
        }

    before = ugraph()
    upper = emb.filter(F.col("vec_id") % GANN_UPPER_MOD == 0)
    batch = {
        (r["src"], r["dst"])
        for r in _gann_edges(
            _probe_assign(upper, ids, cent, GANN_BUILD_PROBE)
        ).collect()
    }
    assert before == batch, "resolved upper store graph != batch upper graph"

    run_epoch(1)
    run_epoch(3)
    assert ugraph() == before


def test_incremental_budget_packing_replay_and_batch_equal(spark, tmp_path):
    """Budget-packing maintenance (14th store kind): each epoch's plan
    rows are a pure function of (frozen previous per-language boundary
    state, frozen batch file), so replays rewrite identical content,
    and the accumulated plan equals the batch fragment-budget plan row
    for row — including mid-bucket continuations across epoch
    boundaries."""
    import glob

    from aws_lambda_redshift_loader_spark.operators.text import (
        PACK_BUCKET,
        _budget_pack_fold,
        _pack_tokens,
    )
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_PACK_EPOCHS,
        _ensure_doc_split,
        ingest_budget_packing_epoch,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    src = _ensure_doc_split(spark, sf, INC_PACK_EPOCHS)
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert len(files) == INC_PACK_EPOCHS
    store = str(tmp_path / "store")

    def run_epoch(i):
        ingest_budget_packing_epoch(spark, spark.read.parquet(files[i]), i, store)

    for i in range(INC_PACK_EPOCHS):
        run_epoch(i)

    def plan_rows():
        return {
            (r["doc_id"], r["first_seq"], r["first_off"], r["last_seq"],
             r["pad_before"])
            for r in spark.read.parquet(f"{store}/plan").collect()
        }

    before = plan_rows()
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    toks = _pack_tokens(docs).withColumn(
        "bucket", F.expr(f"doc_id div {PACK_BUCKET}").cast("bigint")
    )
    batch = {
        (r["doc_id"], r["first_seq"], r["first_off"], r["last_seq"],
         r["pad_before"])
        for r in _budget_pack_fold(toks).collect()
    }
    assert before == batch, "stream-maintained budget plan != batch plan"

    # at least one bucket must straddle an epoch boundary, else the
    # state-continuation path is untested (125-doc ranges vs 64-doc
    # buckets guarantee it on this fixture)
    bounds = set()
    for f in files:
        ids = [r["doc_id"] for r in spark.read.parquet(f).select("doc_id").collect()]
        bounds.add(min(ids) // PACK_BUCKET)
        bounds.add(max(ids) // PACK_BUCKET)
    assert len(bounds) < 2 * INC_PACK_EPOCHS, "no bucket straddles an epoch"

    run_epoch(1)  # mid-stream replay (reads frozen epoch-0 state)
    run_epoch(3)  # tail replay
    assert plan_rows() == before


def test_incremental_rules_replay_and_batch_equal(spark, tmp_path):
    """Association-rule support maintenance (15th store kind, the
    stateless mergeable one): epochs are pure functions of their own
    whole-basket batch, the resolved sums equal the batch supports,
    and replaying any epoch leaves the store identical."""
    import glob

    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_RULES_EPOCHS,
        _ensure_basket_split,
        ingest_rules_epoch,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    src = _ensure_basket_split(spark, sf)
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert len(files) == INC_RULES_EPOCHS
    store = str(tmp_path / "store")

    def run_epoch(i):
        ingest_rules_epoch(spark, spark.read.parquet(files[i]), i, store)

    for i in range(INC_RULES_EPOCHS):
        run_epoch(i)

    def support_rows():
        # r18 fused layout: one kind-tagged epoch partition per trigger
        # (kind 0 = pair counts, kind 2 = basket markers).
        st = spark.read.parquet(store)
        pairs = {
            (r["part_a"], r["part_b"], r["s"])
            for r in st.filter(F.col("kind") == 0)
            .groupBy(F.col("ka").alias("part_a"), F.col("kb").alias("part_b"))
            .agg(F.sum("c").alias("s"))
            .collect()
        }
        nb = (
            st.filter(F.col("kind") == 2)
            .agg(F.sum("c").alias("n"))
            .collect()[0]["n"]
        )
        return pairs, nb

    before, nb_before = support_rows()
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    batch = {
        (r["part_a"], r["part_b"], r["s"])
        for r in a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("s"))
        .collect()
    }
    assert before == batch, "stream-maintained pair supports != batch"
    assert nb_before == items.select("l_orderkey").distinct().count()

    run_epoch(0)
    run_epoch(2)
    assert support_rows() == (before, nb_before)


def test_incremental_token_counts_replay_and_batch_equal(spark, tmp_path):
    """Token-frequency maintenance (16th store kind, stateless
    mergeable at token grain): epochs are pure functions of their own
    batch, the resolved sums equal the batch token counts, and
    replaying any epoch leaves the store identical."""
    import glob

    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_TOK_EPOCHS,
        _ensure_doc_split,
        ingest_token_counts_epoch,
    )
    from aws_lambda_redshift_loader_spark.functions.scalar import norm_text
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    src = _ensure_doc_split(spark, sf, INC_TOK_EPOCHS)
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert len(files) == INC_TOK_EPOCHS
    store = str(tmp_path / "store")

    def run_epoch(i):
        ingest_token_counts_epoch(
            spark, spark.read.parquet(files[i]), i, store
        )

    for i in range(INC_TOK_EPOCHS):
        run_epoch(i)

    def resolved():
        return {
            (r["token"], r["f"])
            for r in spark.read.parquet(f"{store}/counts")
            .groupBy("token")
            .agg(F.sum("c").cast("bigint").alias("f"))
            .collect()
        }

    before = resolved()
    batch = {
        (r["token"], r["f"])
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select(F.explode(F.split(norm_text("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("f"))
        .collect()
    }
    assert before == batch, "stream-maintained token counts != batch"

    run_epoch(0)  # head replay
    run_epoch(2)  # mid replay
    assert resolved() == before


def test_incremental_contamination_replay_and_batch_equal(spark, tmp_path):
    """Contamination-flag maintenance (17th store kind, stateless
    mergeable at flag grain): epochs are pure functions of (static
    benchmark, own batch), the union of flag deltas equals the batch
    semantic_contamination_check, and replaying any epoch leaves the
    store identical."""
    import glob

    from aws_lambda_redshift_loader_spark.operators.similarity import (
        semantic_contamination_check,
    )
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        _contam_bench_frame,
        _ensure_emb_segment_split,
        ingest_contamination_epoch,
    )

    sf = "/root/testdata/sf0.001"
    src = _ensure_emb_segment_split(spark, sf)
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert files
    store = str(tmp_path / "store")
    bench = _contam_bench_frame(spark, sf)

    def run_epoch(i):
        ingest_contamination_epoch(
            spark, spark.read.parquet(files[i]), i, store, bench
        )

    for i in range(len(files)):
        run_epoch(i)

    def resolved():
        return {
            (r["corpus_id"], r["bench_id"], r["cosine"])
            for r in spark.read.parquet(f"{store}/flags").collect()
        }

    before = resolved()
    batch = {
        (r["corpus_id"], r["bench_id"], r["cosine"])
        for r in semantic_contamination_check(spark, sf).collect()
    }
    assert before == batch, "stream-maintained flags != batch gate"
    assert before, "vacuous: no contamination flagged on the fixture"

    run_epoch(0)
    run_epoch(len(files) - 1)
    assert resolved() == before


def test_incremental_km_replay_and_batch_equal(spark, tmp_path):
    """User-time maintenance (18th store kind, min/max-merge at user
    grain over ARBITRARY arrival-order epochs): epochs are pure
    functions of their own batch, the resolved minima equal the batch
    scan, and replaying any epoch leaves the store identical."""
    import glob

    from aws_lambda_redshift_loader_spark.operators.windows_sql import (
        KM_VALUE_FLOOR,
    )
    from aws_lambda_redshift_loader_spark.session import table
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_KM_EPOCHS,
        _ensure_event_split,
        ingest_km_epoch,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    src = _ensure_event_split(spark, sf, INC_KM_EPOCHS)
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert len(files) == INC_KM_EPOCHS
    store = str(tmp_path / "store")

    def run_epoch(i):
        ingest_km_epoch(spark, spark.read.parquet(files[i]), i, store)

    for i in range(INC_KM_EPOCHS):
        run_epoch(i)

    def resolved():
        ut = {
            (r["user_id"], r["fd"], r["pd"])
            for r in spark.read.parquet(f"{store}/usertimes")
            .groupBy("user_id")
            .agg(F.min("fd").alias("fd"), F.min("pd").alias("pd"))
            .collect()
        }
        m = spark.read.parquet(f"{store}/maxday").agg(
            F.max("m").alias("m")
        ).collect()[0]["m"]
        return ut, m

    before, m_before = resolved()
    ev = table(spark, sf, "events").select(
        "user_id", "event_type", "value", F.to_date("ts").alias("day")
    )
    batch = {
        (r["user_id"], r["fd"], r["pd"])
        for r in ev.groupBy("user_id")
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
        .collect()
    }
    assert before == batch, "stream-maintained user times != batch scan"
    assert m_before == ev.agg(F.max("day")).collect()[0][0]
    # users genuinely span epochs (the arbitrary-split claim is live)
    per_epoch_users = [
        {r["user_id"] for r in spark.read.parquet(f).select("user_id").distinct().collect()}
        for f in files
    ]
    assert per_epoch_users[0] & per_epoch_users[-1], "no user spans epochs"

    run_epoch(0)
    run_epoch(2)
    assert resolved() == (before, m_before)


def test_incremental_transitions_replay_stitch_and_batch_equal(spark, tmp_path):
    """Transition-pair maintenance (19th store kind, the
    sequence-stitching one): epochs are pure functions of their own
    batch, the resolved internal+stitched counts equal one global lag
    over history, cross-epoch seam pairs genuinely exist (a per-batch
    lag WOULD have dropped them), and replaying any epoch leaves the
    store identical."""
    import glob

    from aws_lambda_redshift_loader_spark.session import table
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        INC_TRANS_EPOCHS,
        _ensure_event_ts_split,
        ingest_transition_epoch,
        resolve_transition_counts,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    sf = "/root/testdata/sf0.001"
    src = _ensure_event_ts_split(spark, sf, INC_TRANS_EPOCHS)
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert len(files) == INC_TRANS_EPOCHS
    store = str(tmp_path / "store")

    def run_epoch(i):
        ingest_transition_epoch(spark, spark.read.parquet(files[i]), i, store)

    for i in range(INC_TRANS_EPOCHS):
        run_epoch(i)

    def resolved():
        return {
            (r["prev_type"], r["event_type"], r["n"])
            for r in resolve_transition_counts(spark, store).collect()
        }

    before = resolved()
    seq = table(spark, sf, "events").select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(
            W.partitionBy("user_id").orderBy(
                F.col("ts").asc(), F.col("event_id").asc()
            )
        )
        .alias("prev_type"),
    )
    batch = {
        (r["prev_type"], r["event_type"], r["n"])
        for r in seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .collect()
    }
    assert before == batch, "stitched counts != one global lag"
    # the seam pairs are genuinely live: internal sums alone fall short
    internal_only = sum(
        r["c"]
        for r in spark.read.parquet(f"{store}/internal").collect()
    )
    assert internal_only < sum(n for _, _, n in batch), (
        "no cross-epoch pair existed; the stitch is untested"
    )

    run_epoch(0)
    run_epoch(2)
    assert resolved() == before


def test_count_and_bytes_triggers_together_rejected_at_construction(spark, tmp_path):
    """Spark's file source cannot take maxFilesPerTrigger with
    maxBytesPerTrigger; a LoadConfig with both is refused when the
    StreamIngest is built, not at the stream's first trigger. Either
    one alone still starts and drains."""
    import pytest

    src = str(tmp_path / "in")
    _write_files(src, 0, 2)

    def cfg(name, **triggers):
        return LoadConfig(
            s3_prefix=src, data_format="CSV", csv_delimiter="|",
            schema="a INT, b INT, c INT",
            sinks=[ClusterSink(target_table="t", path=str(tmp_path / f"wh_{name}"))],
            **triggers,
        )

    with pytest.raises(ValueError, match="batch_size and batch_size_bytes"):
        StreamIngest(spark, cfg("both", batch_size=3, batch_size_bytes=1500), src,
                     str(tmp_path / "ckpt_both"))
    for name, triggers in (("count", {"batch_size": 1}),
                           ("bytes", {"batch_size_bytes": 1500})):
        StreamIngest(spark, cfg(name, **triggers), src,
                     str(tmp_path / f"ckpt_{name}")).run_available()
        df = spark.read.parquet(os.path.join(str(tmp_path / f"wh_{name}"), "t"))
        assert df.count() == 4, name  # 2 files x 2 rows


def test_foreach_batch_pool_threads_carry_the_streams_job_group(spark, tmp_path):
    """Store bodies that a foreachBatch runs on session.run_concurrently
    (the fused doc stream's pool) carry the stream's job group, its
    runId, so StreamingQuery.stop() cancels their in-flight jobs too."""
    from aws_lambda_redshift_loader_spark.session import run_concurrently

    src = str(tmp_path / "in")
    _write_files(src, 0, 1)
    sc = spark.sparkContext
    seen: list = []

    def body(batch_df, epoch_id):
        seen.extend(
            run_concurrently(
                spark,
                [lambda: sc.getLocalProperty("spark.jobGroup.id")] * 3,
                max_workers=3,
            )
        )

    q = (
        spark.readStream.schema("a INT, b INT, c INT").option("sep", "|").csv(src)
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    assert seen == [str(q.runId)] * 3


def test_stream_applies_reader_options_like_read_files(spark, tmp_path):
    """The stream path parses a file exactly as the batch reader does,
    LoadConfig.reader_options included: a CSV stream with quote,
    nullValue and dateFormat options lands the rows read_files returns."""
    from aws_lambda_redshift_loader_spark.sources.reader import read_files

    src = tmp_path / "in"
    src.mkdir()
    (src / "f0.csv").write_text("'a val'|NA|2024~01~15\n'b|val'|7|2024~02~20\n")
    cfg = LoadConfig(
        s3_prefix=str(src),
        data_format="CSV",
        csv_delimiter="|",
        schema="name STRING, n STRING, d DATE",
        reader_options={"quote": "'", "nullValue": "NA", "dateFormat": "yyyy~MM~dd"},
        sinks=[ClusterSink(target_table="t", path=str(tmp_path / "wh"))],
    )
    StreamIngest(spark, cfg, str(src), str(tmp_path / "ckpt")).run_available()
    streamed = spark.read.parquet(str(tmp_path / "wh" / "t")).select("name", "n", "d")
    batch = read_files(spark, cfg, str(src / "f0.csv"))
    expected = sorted(tuple(r) for r in batch.collect())
    assert sorted(tuple(r) for r in streamed.collect()) == expected
    assert [r[1] for r in expected] == [None, "7"]


def test_batch_only_fields_rejected_at_construction(spark, tmp_path):
    """max_error, json_path and compression are batch-load checks the
    file stream cannot apply; a LoadConfig setting one is refused when
    the StreamIngest is built instead of loading differently."""
    import pytest

    for field, value in (("max_error", 0), ("json_path", "$.a"), ("compression", "GZIP")):
        cfg = LoadConfig(
            s3_prefix="x", data_format="JSON", schema="a INT", **{field: value},
            sinks=[ClusterSink(target_table="t", path=str(tmp_path / "wh"))],
        )
        with pytest.raises(ValueError, match=field):
            StreamIngest(spark, cfg, str(tmp_path / "in"), str(tmp_path / "ckpt"))


def test_source_stream_body_failure_publishes_nothing_and_replays(
    spark, tmp_path, monkeypatch
):
    """Two store bodies share the drain runner; body B raises at epoch 1
    after body A has committed epoch 1. _ensure_source_stream re-raises
    and publishes no memo entry; rerunning the runner on the same
    checkpoint replays epoch 1 and finishes, and both stores then equal
    a clean run's (files at least once in, rows exactly once out)."""
    import glob
    import threading

    import pytest
    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.streaming import stream_queries as SQ

    src = str(tmp_path / "src")
    spark.range(40).repartitionByRange(4, "id").write.parquet(src)
    for k, f in enumerate(sorted(glob.glob(f"{src}/part-*.parquet"))):
        os.utime(f, (1_600_000_000 + k, 1_600_000_000 + k))
    a_committed = threading.Event()
    fail = {"on": True}

    def bodies(run):
        store_a, store_b = str(tmp_path / run / "a"), str(tmp_path / run / "b")

        def body_a(batch_df, epoch_id):
            batch_df.write.mode("overwrite").parquet(f"{store_a}/epoch={epoch_id}")
            if epoch_id == 1:
                a_committed.set()

        def body_b(batch_df, epoch_id):
            if epoch_id == 1 and fail["on"]:
                assert a_committed.wait(60)
                raise RuntimeError("injected store failure")
            batch_df.agg(
                F.count("*").alias("n"), F.sum("id").alias("s")
            ).write.mode("overwrite").parquet(f"{store_b}/epoch={epoch_id}")

        return store_a, store_b, [body_a, body_b]

    store_a, store_b, faulty = bodies("faulty")
    ckpt = str(tmp_path / "ckpt")

    def fault_source(spark_, sf_dir):
        SQ._drain(spark_, src, faulty, ckpt)
        return {"a": store_a, "b": store_b}

    monkeypatch.setitem(SQ._SOURCES, "fault", fault_source)
    with pytest.raises(Exception, match="injected store failure"):
        SQ._ensure_source_stream(spark, src, "fault")
    key = (spark.sparkContext.applicationId, src, "fault")
    assert key not in SQ._SOURCE_STREAM_MEMO
    assert os.path.isfile(f"{store_a}/epoch=1/_SUCCESS")
    assert not os.path.exists(f"{store_b}/epoch=1")

    fail["on"] = False
    SQ._drain(spark, src, faulty, ckpt)
    clean_a, clean_b, clean = bodies("clean")
    SQ._drain(spark, src, clean, str(tmp_path / "ckpt_clean"))

    def rows(store):
        return sorted(tuple(r) for r in spark.read.parquet(store).collect())

    assert rows(store_a) == rows(clean_a)
    assert rows(store_b) == rows(clean_b)
    assert len(rows(store_a)) == 40 and len(rows(store_b)) == 4
