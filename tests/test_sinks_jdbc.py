"""Real-JDBC sink tests (reference L3, etl:152-160).

Runs `df.write.format("jdbc")` against Apache Derby embedded — the
driver is part of Spark's bundled jars, so this is the genuine JDBC
code path (DriverManager, JdbcUtils type mapping, batched inserts).
MySQL in production differs only by URL + driver jar.
"""

from __future__ import annotations

import functools
import gc
import tempfile

import pytest
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.sinks.jdbc import (
    write_jdbc,
    write_jdbc_idempotent,
)
from elb_log_to_mysql_spark.sources.alb import parse_alb_lines

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


def _derby_url() -> str:
    return f"jdbc:derby:{tempfile.mkdtemp(prefix='derby_')}/db;create=true"


def _read_back(spark, url, table):
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", DERBY_DRIVER)
        .load()
    )


def _alb_df(spark, n, source):
    line = F.format_string(
        'h2 2025-05-26T10:%02d:%02d.000123Z app/x/y 1.2.3.%d:443 5.6.7.8:80 '
        '0.001 0.020 0.000 200 200 %d 2000 "GET https://ex.com/p/%d HTTP/2.0" '
        '"curl/8.5.0" CIPHER TLSv1.3 arn',
        (F.col("id") % 60).cast("int"),
        ((F.col("id") * 7) % 60).cast("int"),
        (F.col("id") % 250).cast("int"),
        (F.col("id") % 1000).cast("int"),
        F.col("id").cast("int"),
    )
    lines = spark.range(0, n).select(line.alias("value"))
    return parse_alb_lines(lines, source_file=F.lit(source))


def test_jdbc_roundtrip_schema_and_rows(spark):
    """The full parsed ALB table goes through real JDBC and comes back
    with the same rowcount and column set (L3 end-to-end)."""
    url = _derby_url()
    df = _alb_df(spark, 57, "s3://bucket/a.gz")
    write_jdbc(df, url, driver=DERBY_DRIVER, num_partitions=2)
    back = _read_back(spark, url, "elb_log_data")
    assert back.count() == 57
    assert sorted(back.columns) == sorted(df.columns)
    r = back.orderBy("requested_path").first()
    assert r.http_method == "GET"
    assert r.ua_browser_family == "curl"


def test_jdbc_append_mode_duplicates_like_reference(spark):
    """mode='append' reproduces the reference's duplicate-on-rerun
    behavior (etl:155) — the contract write_jdbc_idempotent fixes."""
    url = _derby_url()
    df = _alb_df(spark, 10, "s3://bucket/a.gz")
    write_jdbc(df, url, driver=DERBY_DRIVER)
    write_jdbc(df, url, driver=DERBY_DRIVER)
    assert _read_back(spark, url, "elb_log_data").count() == 20


def test_jdbc_idempotent_reingest_replaces_file(spark):
    """Re-running one file's ingest replaces exactly that file's rows;
    other files' rows are untouched."""
    url = _derby_url()
    a1 = _alb_df(spark, 10, "s3://bucket/a.gz")
    b = _alb_df(spark, 7, "s3://bucket/b.gz")
    # first ingest (table auto-created on first append)
    assert write_jdbc_idempotent(a1, url, driver=DERBY_DRIVER) == [
        "s3://bucket/a.gz"
    ]
    write_jdbc_idempotent(b, url, driver=DERBY_DRIVER)
    assert _read_back(spark, url, "elb_log_data").count() == 17
    # re-deliver file a with more rows: replaces, never duplicates
    a2 = _alb_df(spark, 12, "s3://bucket/a.gz")
    write_jdbc_idempotent(a2, url, driver=DERBY_DRIVER)
    back = _read_back(spark, url, "elb_log_data")
    assert back.count() == 19
    per_file = {
        r.log_source_file: r.n
        for r in back.groupBy("log_source_file").agg(F.count("*").alias("n")).collect()
    }
    assert per_file == {"s3://bucket/a.gz": 12, "s3://bucket/b.gz": 7}


def test_stream_ingest_jdbc_exactly_once_and_incremental(spark, tmp_path):
    """The reference pipeline as a stream against real JDBC: gzip log
    dir -> readStream -> parse -> foreachBatch delete-then-append into
    Derby. Checkpoint replay must converge (no duplicates); a
    late-arriving file is picked up incrementally."""
    import gzip

    from elb_log_to_mysql_spark.streaming.ingest import stream_alb_to_jdbc

    line = (
        "h2 2025-05-26T10:00:{sec:02d}Z app/x/y 10.0.0.{i}:443 10.1.1.1:80 "
        '0.001 0.020 0.000 200 200 100 2000 "GET https://ex.com/p HTTP/2.0" '
        '"Mozilla/5.0 (X11; Linux x86_64) Firefox/127.0" CIPHER TLSv1.3 arn'
    )
    src = tmp_path / "logs"
    src.mkdir()
    for f in range(2):
        with gzip.open(src / f"f{f}.log.gz", "wt") as fh:
            for i in range(5):
                fh.write(line.format(sec=i, i=i) + "\n")

    url = _derby_url()

    def rows() -> int:
        return _read_back(spark, url, "elb_log_data").count()

    stream_alb_to_jdbc(
        spark, str(src), url, driver=DERBY_DRIVER,
        checkpoint=str(tmp_path / "ck1"),
    )
    assert rows() == 10
    # checkpoint LOSS: full replay through a fresh checkpoint must
    # converge to the same table state via the file-scoped replace
    stream_alb_to_jdbc(
        spark, str(src), url, driver=DERBY_DRIVER,
        checkpoint=str(tmp_path / "ck2"),
    )
    assert rows() == 10
    # late third file: original checkpoint skips committed files,
    # ingests only the new one
    with gzip.open(src / "f2.log.gz", "wt") as fh:
        for i in range(3):
            fh.write(line.format(sec=i, i=i) + "\n")
    stream_alb_to_jdbc(
        spark, str(src), url, driver=DERBY_DRIVER,
        checkpoint=str(tmp_path / "ck1"),
    )
    assert rows() == 13
    # lineage column preserved through the stream: one row-set per file
    per_file = (
        _read_back(spark, url, "elb_log_data")
        .groupBy("log_source_file")
        .count()
        .collect()
    )
    assert len(per_file) == 3 and all(r["count"] in (5, 3) for r in per_file)


def test_streaming_ingest_to_jdbc_idempotent(spark, tmp_path):
    """The reference ETL as an always-on pipeline: readStream over the
    log directory -> identical parse chain -> foreachBatch idempotent
    JDBC append (streaming/ingest.py). Covers both replay layers:
    checkpointed restart adds nothing new, and a re-delivered file
    (fresh checkpoint — invisible to the engine) is replaced, not
    duplicated."""
    from elb_log_to_mysql_spark.streaming.ingest import stream_alb_to_jdbc

    src = tmp_path / "logs"
    src.mkdir()
    line = (
        'h2 2025-05-26T10:00:{s:02d}.000123Z app/x/y 1.2.3.4:443 5.6.7.8:80 '
        '0.001 0.020 0.000 200 200 100 2000 "GET https://ex.com/p/{i} HTTP/2.0" '
        '"curl/8.5.0" CIPHER TLSv1.3 arn'
    )
    for f in range(2):
        (src / f"file{f}.log").write_text(
            "\n".join(line.format(s=i % 60, i=f * 100 + i) for i in range(50)) + "\n"
        )
    url = _derby_url()
    ckpt = str(tmp_path / "ckpt")
    stream_alb_to_jdbc(
        spark, str(src), url, driver=DERBY_DRIVER, checkpoint=ckpt
    )
    back = _read_back(spark, url, "elb_log_data")
    assert back.count() == 100
    # restart with the SAME checkpoint: nothing to do, no duplicates
    stream_alb_to_jdbc(
        spark, str(src), url, driver=DERBY_DRIVER, checkpoint=ckpt
    )
    assert _read_back(spark, url, "elb_log_data").count() == 100
    # re-delivery: fresh checkpoint reprocesses both files — the
    # file-scoped delete-then-append converges instead of doubling
    stream_alb_to_jdbc(
        spark, str(src), url, driver=DERBY_DRIVER,
        checkpoint=str(tmp_path / "ckpt2"),
    )
    back2 = _read_back(spark, url, "elb_log_data")
    assert back2.count() == 100
    # and the content matches the batch parse of the same directory
    from elb_log_to_mysql_spark.sources.alb import read_alb_logs

    batch = read_alb_logs(spark, str(src) + "/*.log")
    assert back2.count() == batch.count()
    assert (
        back2.agg(F.sum("elb_status_code")).first()[0]
        == batch.agg(F.sum("elb_status_code")).first()[0]
    )


def test_streaming_ingest_picks_up_only_new_files(spark, tmp_path):
    """Incremental semantics: after the first drain, a NEW file in the
    watched directory is the only thing the next run processes (the
    checkpoint skips completed files), and its rows append."""
    from elb_log_to_mysql_spark.streaming.ingest import stream_alb_to_jdbc

    src = tmp_path / "logs"
    src.mkdir()
    line = (
        'h2 2025-05-26T11:00:{s:02d}.000123Z app/x/y 1.2.3.4:443 5.6.7.8:80 '
        '0.001 0.020 0.000 200 200 100 2000 "GET https://ex.com/q/{i} HTTP/2.0" '
        '"curl/8.5.0" CIPHER TLSv1.3 arn'
    )

    def write(fname, n, base):
        (src / fname).write_text(
            "\n".join(line.format(s=i % 60, i=base + i) for i in range(n)) + "\n"
        )

    url = _derby_url()
    ckpt = str(tmp_path / "ckpt")
    write("f0.log", 30, 0)
    stream_alb_to_jdbc(spark, str(src), url, driver=DERBY_DRIVER, checkpoint=ckpt)
    assert _read_back(spark, url, "elb_log_data").count() == 30
    write("f1.log", 12, 1000)
    stream_alb_to_jdbc(spark, str(src), url, driver=DERBY_DRIVER, checkpoint=ckpt)
    back = _read_back(spark, url, "elb_log_data")
    assert back.count() == 42
    # lineage shows both files, 30/12 split preserved
    per_file = {
        r["log_source_file"].rsplit("/", 1)[-1]: r["n"]
        for r in back.groupBy("log_source_file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_file == {"f0.log": 30, "f1.log": 12}


def _gzip_logs(src, n_files: int, n_lines: int) -> None:
    import gzip

    line = (
        "h2 2025-05-26T12:00:{s:02d}.000123Z app/x/y 10.0.0.{i}:443 10.1.1.1:80 "
        '0.001 0.020 0.000 200 200 {i} 2000 "GET https://ex.com/r/{f} HTTP/2.0" '
        '"Mozilla/5.0 (X11; Linux x86_64) Firefox/127.0" CIPHER TLSv1.3 arn'
    )
    src.mkdir()
    for f in range(n_files):
        with gzip.open(src / f"f{f}.log.gz", "wt") as fh:
            for i in range(n_lines):
                fh.write(line.format(s=i % 60, i=i, f=f) + "\n")


def test_main_stream_forwards_db_credentials(spark, tmp_path, monkeypatch):
    """`main --stream` authenticates with DB_USER/DB_PASS like batch
    run_etl does: the URL from mysql_url_from_env carries no
    credentials, so the stream sink must receive them. A
    password-protected MySQL rejects a sink that drops them."""
    from elb_log_to_mysql_spark import main as main_mod
    from elb_log_to_mysql_spark.streaming import ingest

    src = tmp_path / "logs"
    _gzip_logs(src, n_files=2, n_lines=4)
    url = _derby_url()
    seen = []
    real = ingest.write_jdbc_idempotent

    def recording(df, url, **kwargs):
        seen.append(kwargs)
        return real(df, url, **kwargs)

    monkeypatch.setattr(ingest, "write_jdbc_idempotent", recording)
    monkeypatch.setattr(main_mod, "build_session", lambda **_: spark)
    monkeypatch.setattr(main_mod, "mysql_url_from_env", lambda: url)
    for k, v in {"DB_HOST": "localhost", "DB_NAME": "logs",
                 "DB_USER": "etl_user", "DB_PASS": "s3cret",
                 "LOG_PATH": str(src)}.items():
        monkeypatch.setenv(k, v)

    assert main_mod.main(["--stream", "--checkpoint", str(tmp_path / "ck")]) == 0
    assert seen and all(
        (kw.get("user"), kw.get("password")) == ("etl_user", "s3cret")
        for kw in seen
    )
    back = (
        spark.read.format("jdbc")
        .options(url=url, dbtable="elb_log_data", user="etl_user",
                 password="s3cret")
        .load()
    )
    assert back.count() == 8


def test_stream_ingest_crash_after_write_before_commit(spark, tmp_path, monkeypatch):
    """Crash between the sink write and the checkpoint commit: the
    first micro-batch lands its rows in Derby, then foreachBatch
    raises, so the batch is never committed. A restart on the same
    checkpoint re-runs that batch; the file-scoped delete-then-append
    must leave exactly the table one clean ingest produces."""
    from elb_log_to_mysql_spark.streaming import ingest
    from elb_log_to_mysql_spark.streaming.ingest import stream_alb_to_jdbc

    src = tmp_path / "logs"
    _gzip_logs(src, n_files=3, n_lines=6)
    url = _derby_url()
    ckpt = str(tmp_path / "ck")
    real = ingest.write_jdbc_idempotent
    calls = []

    def write_then_crash(df, url, **kwargs):
        files = real(df, url, **kwargs)
        calls.append(files)
        if len(calls) == 1:
            raise RuntimeError("crash before the checkpoint commit")
        return files

    monkeypatch.setattr(ingest, "write_jdbc_idempotent", write_then_crash)
    with pytest.raises(Exception, match="crash before the checkpoint commit"):
        stream_alb_to_jdbc(spark, str(src), url, driver=DERBY_DRIVER, checkpoint=ckpt)
    # the crashed batch did write: a replay without the file-scoped
    # replace would duplicate these rows
    assert len(calls) == 1
    assert _read_back(spark, url, "elb_log_data").count() == 18

    monkeypatch.setattr(ingest, "write_jdbc_idempotent", real)
    stream_alb_to_jdbc(spark, str(src), url, driver=DERBY_DRIVER, checkpoint=ckpt)

    clean_url = _derby_url()
    stream_alb_to_jdbc(
        spark, str(src), clean_url, driver=DERBY_DRIVER,
        checkpoint=str(tmp_path / "ck_clean"),
    )
    got = sorted(_read_back(spark, url, "elb_log_data").collect())
    want = sorted(_read_back(spark, clean_url, "elb_log_data").collect())
    assert len(want) == 18
    assert got == want


def test_alb_sink_caches_each_batch_once(spark, tmp_path, monkeypatch):
    """`run_etl` hands the sink `parse_and_classify` rows, and the sink
    caches nothing itself: during its lineage pass the ingest has added
    exactly one CacheManager entry, the parse cache (no join in its
    plan). The lineage `distinct` reads that cache directly — Spark's
    outer-join elimination drops the UA join from it."""
    from elb_log_to_mysql_spark import main as main_mod
    from elb_log_to_mysql_spark.sinks import jdbc

    src = tmp_path / "logs"
    _gzip_logs(src, n_files=2, n_lines=5)
    url = _derby_url()
    cm = spark._jsparkSession.sharedState().cacheManager()
    cached = cm.getClass().getDeclaredField("cachedData")
    cached.setAccessible(True)
    identity = spark._jvm.System.identityHashCode

    def entries():
        seq = cached.get(cm)
        return {identity(seq.apply(i)): seq.apply(i) for i in range(seq.size())}

    gc.collect()
    before = set(entries())
    seen = {}
    real = jdbc.distinct_source_files

    def lineage_pass(df, source_col="log_source_file"):
        seen["added"] = [
            e.plan().toString() for k, e in entries().items() if k not in before
        ]
        seen["plan"] = (
            df.select(source_col).distinct()._jdf.queryExecution()
            .optimizedPlan().toString()
        )
        return real(df, source_col)

    monkeypatch.setattr(jdbc, "distinct_source_files", lineage_pass)
    monkeypatch.setattr(
        main_mod,
        "write_jdbc_idempotent",
        functools.partial(jdbc.write_jdbc_idempotent, driver=DERBY_DRIVER),
    )
    assert main_mod.run_etl(spark, str(src / "*.gz"), url) == 10
    assert len(seen["added"]) == 1, seen["added"]
    assert "Join" not in seen["added"][0]
    assert "InMemoryRelation" in seen["plan"]
    assert "Join" not in seen["plan"]
