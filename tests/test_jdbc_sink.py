"""S4 JDBC sink end-to-end against embedded Derby (jars ship in
pyspark/jars): presql → truncate → load → postsql in one transaction,
mirroring the reference's wrapped COPY (index.js:1098-1231) and the
all-or-nothing rollback contract (index.js:909-925)."""

from __future__ import annotations

import pytest

from aws_lambda_redshift_loader_spark.sources.routing import ClusterSink
from aws_lambda_redshift_loader_spark.streaming.sinks import (
    _run_jdbc_statements,
    write_to_sink,
)


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory, spark):
    # Keep derby.log out of the repo root.
    spark.sparkContext._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path_factory.mktemp("derby") / "derby.log")
    )
    wh = tmp_path_factory.mktemp("derby_wh")
    return f"jdbc:derby:{wh}/wh;create=true"


def _read_table(spark, url, table):
    return (
        spark.read.format("jdbc").options(url=url, dbtable=table).load()
    )


def _exec(spark, url, sql):
    _run_jdbc_statements(spark, ClusterSink(target_table="x", jdbc_url=url), [sql])


def test_jdbc_sink_load_with_pre_post_sql(spark, derby_url):
    _exec(spark, derby_url, 'CREATE TABLE audit_a ("phase" VARCHAR(10))')
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "val"])
    sink = ClusterSink(
        target_table="target_a",
        jdbc_url=derby_url,
        presql="INSERT INTO audit_a VALUES ('pre');",  # trailing ; normalized
        postsql="INSERT INTO audit_a VALUES ('post')",
    )
    res = write_to_sink(df, sink)
    assert res.status == "loaded", res.error
    got = sorted(tuple(r) for r in _read_table(spark, derby_url, "target_a").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    phases = sorted(
        r[0] for r in _read_table(spark, derby_url, "audit_a").collect()
    )
    assert phases == ["post", "pre"]


def test_jdbc_sink_truncate_target(spark, derby_url):
    old = spark.createDataFrame([(99, "old")], ["id", "val"])
    assert write_to_sink(old, ClusterSink(target_table="target_b", jdbc_url=derby_url)).status == "loaded"
    new = spark.createDataFrame([(1, "new")], ["id", "val"])
    res = write_to_sink(
        new,
        ClusterSink(target_table="target_b", jdbc_url=derby_url, truncate_target=True),
    )
    assert res.status == "loaded", res.error
    got = [tuple(r) for r in _read_table(spark, derby_url, "target_b").collect()]
    assert got == [(1, "new")]


def test_jdbc_sink_append_without_truncate(spark, derby_url):
    a = spark.createDataFrame([(1, "a")], ["id", "val"])
    b = spark.createDataFrame([(2, "b")], ["id", "val"])
    assert write_to_sink(a, ClusterSink(target_table="target_c", jdbc_url=derby_url)).status == "loaded"
    assert write_to_sink(b, ClusterSink(target_table="target_c", jdbc_url=derby_url)).status == "loaded"
    got = sorted(tuple(r) for r in _read_table(spark, derby_url, "target_c").collect())
    assert got == [(1, "a"), (2, "b")]


def test_jdbc_sink_failed_postsql_rolls_back_target(spark, derby_url):
    """The reference's single wrapped transaction means a postsql failure
    leaves the target untouched (all-or-nothing, index.js:909-925)."""
    old = spark.createDataFrame([(99, "old")], ["id", "val"])
    assert write_to_sink(old, ClusterSink(target_table="target_d", jdbc_url=derby_url)).status == "loaded"
    new = spark.createDataFrame([(1, "new")], ["id", "val"])
    res = write_to_sink(
        new,
        ClusterSink(
            target_table="target_d",
            jdbc_url=derby_url,
            truncate_target=True,
            postsql="INSERT INTO no_such_table VALUES (1)",
        ),
    )
    assert res.status == "error"
    got = [tuple(r) for r in _read_table(spark, derby_url, "target_d").collect()]
    assert got == [(99, "old")]  # truncate+insert rolled back together


def test_jdbc_sink_column_list_projection(spark, derby_url):
    """P7 ordered column projection rides the JDBC path too
    (index.js:1157-1161)."""
    df = spark.createDataFrame([(1, "a", 9.5)], ["id", "val", "extra"])
    sink = ClusterSink(
        target_table="target_e", jdbc_url=derby_url, column_list=["val", "id"]
    )
    assert write_to_sink(df, sink).status == "loaded"
    out = _read_table(spark, derby_url, "target_e")
    assert out.columns == ["val", "id"]
    assert [tuple(r) for r in out.collect()] == [("a", 1)]


def test_jdbc_sink_existing_target_costs_one_spark_job(spark, derby_url, jobs_in_group):
    """The target-create append runs only when the table is missing: a
    load into an existing table starts exactly one Spark job (the
    parallel stage append); the existence check is a driver-side query."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])
    sink = ClusterSink(target_table="target_jobs", jdbc_url=derby_url)
    first, _ = jobs_in_group("jdbc_first_load", lambda: write_to_sink(df, sink))
    assert first.status == "loaded", first.error
    second, n_jobs = jobs_in_group("jdbc_second_load", lambda: write_to_sink(df, sink))
    assert second.status == "loaded", second.error
    assert n_jobs == 1
    got = sorted(tuple(r) for r in _read_table(spark, derby_url, "target_jobs").collect())
    assert got == [(1, "a"), (1, "a"), (2, "b"), (2, "b")]


def test_jdbc_sink_creates_missing_target_with_frame_schema(spark, derby_url):
    df = spark.createDataFrame([(7, "x", 1.5)], "id BIGINT, val STRING, score DOUBLE")
    sink = ClusterSink(target_table="target_fresh", jdbc_url=derby_url)
    assert write_to_sink(df, sink).status == "loaded"
    out = _read_table(spark, derby_url, "target_fresh")
    assert out.columns == ["id", "val", "score"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "string", "double"
    ]
    assert [tuple(r) for r in out.collect()] == [(7, "x", 1.5)]


def test_fan_out_one_failing_sink_among_concurrent_writers(spark, derby_url, tmp_path):
    """A5 under concurrency: the JDBC sink's swap fails (rolled back,
    target left empty) while two path sinks write beside it. The batch
    folds to ok=False, the failure is reported on its own sink, and the
    other sinks keep their rows."""
    from aws_lambda_redshift_loader_spark.streaming.sinks import fan_out

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "val"])
    sinks = [
        ClusterSink(target_table="fan_p1", path=str(tmp_path / "w1")),
        ClusterSink(
            target_table="fan_bad",
            jdbc_url=derby_url,
            postsql="INSERT INTO no_such_table VALUES (1)",
        ),
        ClusterSink(target_table="fan_p2", path=str(tmp_path / "w2")),
    ]
    ok, results = fan_out(df, sinks, epoch_id=0)
    assert not ok
    assert [(r.sink, r.status) for r in results] == [
        ("fan_p1", "loaded"), ("fan_bad", "error"), ("fan_p2", "loaded")
    ]
    assert "NO_SUCH_TABLE" in results[1].error.upper()
    for w, t in (("w1", "fan_p1"), ("w2", "fan_p2")):
        got = spark.read.parquet(str(tmp_path / w / t)).collect()
        assert sorted((r.id, r.val) for r in got) == [(1, "a"), (2, "b"), (3, "c")]
    assert _read_table(spark, derby_url, "fan_bad").count() == 0


def test_jdbc_sink_no_stage_tables_left(spark, derby_url):
    """Staging tables are dropped on success and failure alike."""
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    try:
        rs = conn.getMetaData().getTables(None, None, "%STAGE%", None)
        leftovers = []
        while rs.next():
            leftovers.append(rs.getString("TABLE_NAME"))
    finally:
        conn.close()
    assert leftovers == []


def test_sink_writer_options_passthrough(spark, derby_url, tmp_path):
    """copyOptions sink half: writer_options reach both the JDBC writer
    (batchsize) and the parquet path writer (compression codec)."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])

    jsink = ClusterSink(
        target_table="target_wopts",
        jdbc_url=derby_url,
        writer_options={"batchsize": "1"},
    )
    assert write_to_sink(df, jsink).status == "loaded"
    got = sorted(tuple(r) for r in _read_table(spark, derby_url, "target_wopts").collect())
    assert got == [(1, "a"), (2, "b")]

    import glob
    import os

    psink = ClusterSink(
        target_table="t_codec",
        path=str(tmp_path),
        writer_options={"compression": "gzip"},
    )
    assert write_to_sink(df, psink).status == "loaded"
    parts = glob.glob(os.path.join(str(tmp_path), "t_codec", "*.parquet"))
    assert parts and all(".gz.parquet" in p for p in parts)


def test_build_jdbc_url_assembly(monkeypatch):
    """Connection-string assembly mirrors the reference conninfo builder:
    SSL options, statement_timeout, env-name password indirection, and
    the _OVERRIDE_DBSTRING wholesale override."""
    from aws_lambda_redshift_loader_spark.streaming.sinks import build_jdbc_url

    monkeypatch.delenv("ALRS_OVERRIDE_DBSTRING", raising=False)
    url = build_jdbc_url("wh.example", 5439, "analytics", user="loader",
                         statement_timeout_ms=30000)
    assert url.startswith("jdbc:postgresql://wh.example:5439/analytics?")
    assert "user=loader" in url
    assert "ssl=true" in url and "sslfactory=" in url
    assert "statement_timeout=30000" in url

    plain = build_jdbc_url("h", 5439, "db", ssl=False)
    assert plain == "jdbc:postgresql://h:5439/db"

    # Secrets indirection: config names the env var, never the secret.
    monkeypatch.setenv("WH_PW", "s3cret")
    with_pw = build_jdbc_url("h", 5439, "db", user="u", password_env="WH_PW", ssl=False)
    assert "password=s3cret" in with_pw
    import pytest as _pytest

    with _pytest.raises(KeyError):
        build_jdbc_url("h", 5439, "db", password_env="MISSING_PW_VAR")

    # _OVERRIDE_DBSTRING hook (index.js:1246-1252) wins over everything.
    monkeypatch.setenv("ALRS_OVERRIDE_DBSTRING", "jdbc:derby:memory:test")
    assert build_jdbc_url("h", 1, "x") == "jdbc:derby:memory:test"
