"""Source/sink format coverage: gzip ALB files, CSV, JSON-lines,
partitioned parquet (pruning layout)."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F

from elb_log_to_mysql_spark.sources.alb import read_alb_logs
from elb_log_to_mysql_spark.sources.formats import (
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
    write_parquet,
)
from elb_log_to_mysql_spark.sources.tables import load_table

LINE_TMPL = (
    "h2 2025-05-26T10:00:{sec:02d}Z app/x/y 10.0.0.{i}:443 10.1.1.1:80 "
    '0.001 0.020 0.000 {status} 200 100 2000 "GET https://ex.com/p/{i} HTTP/2.0" '
    '"Mozilla/5.0 (X11; Linux x86_64) Firefox/127.0" CIPHER TLSv1.3 arn'
)


def test_read_alb_gzip_files(spark, tmp_path):
    """Multi-file gzip read: auto-decompression, union across files,
    per-file lineage via input_file_name."""
    for f in range(3):
        with gzip.open(tmp_path / f"part{f}.log.gz", "wt") as fh:
            for i in range(10):
                fh.write(
                    LINE_TMPL.format(sec=i, i=i, status=200 if i % 2 else 404) + "\n"
                )
    df = read_alb_logs(spark, str(tmp_path / "*.log.gz"))
    assert df.count() == 30
    srcs = [r[0] for r in df.select("log_source_file").distinct().collect()]
    assert len(srcs) == 3 and all(s.endswith(".log.gz") for s in srcs)
    by_status = dict(
        (r.elb_status_code, r["count"])
        for r in df.groupBy("elb_status_code").count().collect()
    )
    assert by_status == {200: 15, 404: 15}


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"

    write_csv(nation, str(tmp_path / "csv"))
    back_csv = read_csv(spark, str(tmp_path / "csv"), schema)
    assert sorted(map(tuple, back_csv.collect())) == sorted(map(tuple, nation.collect()))

    write_jsonl(nation, str(tmp_path / "json"))
    back_json = read_jsonl(spark, str(tmp_path / "json"), schema)
    assert sorted(map(tuple, back_json.collect())) == sorted(map(tuple, nation.collect()))


def test_read_requires_schema(spark, tmp_path):
    """Schema inference is opt-out only: passing None raises instead of
    silently sampling the data (a second scan at 100 TB)."""
    import pytest

    with pytest.raises(ValueError, match="schema is required"):
        read_csv(spark, str(tmp_path), None)
    with pytest.raises(ValueError, match="schema is required"):
        read_jsonl(spark, str(tmp_path), None)


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_parquet(orders, str(tmp_path / "pq"), partition_by=["order_year"])
    back = spark.read.parquet(str(tmp_path / "pq"))
    one_year = back.filter(F.col("order_year") == 1996)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the scan must carry a partition filter, and
    # only the matching directory is listed
    assert "order_year" in plan
    expected = orders.filter(F.year("o_orderdate") == 1996).count()
    assert one_year.count() == expected
    years = {
        d.split("=")[1]
        for d in os.listdir(tmp_path / "pq")
        if d.startswith("order_year=")
    }
    assert "1996" in years and len(years) > 1


def test_alb_streaming_matches_batch(spark, tmp_path):
    """The reference pipeline under Structured Streaming: gz files
    drained by the stream ingest (stream_alb_to_jdbc) land in Derby
    exactly as the batch read of the same files parses them — every
    column, UA families included (both classify through
    classify_ua_join)."""
    import collections

    from elb_log_to_mysql_spark.schema import ELB_LOG_COLUMNS
    from elb_log_to_mysql_spark.streaming.ingest import stream_alb_to_jdbc

    agents = [
        "Mozilla/5.0 (X11; Linux x86_64) Firefox/127.0",
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/126.0.0.0 Safari/537.36",
        "Mozilla/5.0 (iPhone; CPU iPhone OS 17_5 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.5 "
        "Mobile/15E148 Safari/604.1",
        "curl/8.5.0",
        "-",
    ]
    src = tmp_path / "stream_in"
    src.mkdir()
    for f in range(2):
        with gzip.open(src / f"drop{f}.log.gz", "wt") as fh:
            for i in range(20):
                line = LINE_TMPL.format(sec=i, i=i, status=200 if i % 3 else 301)
                fh.write(line.replace(agents[0], agents[(i + f) % len(agents)]) + "\n")

    url = f"jdbc:derby:{tmp_path}/derby_db;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    stream_alb_to_jdbc(
        spark, str(src), url, driver=driver, checkpoint=str(tmp_path / "ck")
    )
    landed = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "elb_log_data")
        .option("driver", driver)
        .load()
        .select(*ELB_LOG_COLUMNS)
        .collect()
    )
    batch = read_alb_logs(spark, str(src / "*.log.gz")).select(*ELB_LOG_COLUMNS)
    want = batch.collect()
    assert len(landed) == 40
    assert collections.Counter(map(tuple, landed)) == collections.Counter(
        map(tuple, want)
    )
    families = {r.ua_browser_family for r in want}
    assert len(families) >= 3  # the agents really classify differently


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from elb_log_to_mysql_spark.sources.formats import read_orc, write_orc

    nation = load_table(spark, sf_dir, "nation")
    write_orc(nation, str(tmp_path / "orc"))
    back = read_orc(
        spark, str(tmp_path / "orc"),
        "n_nationkey INT, n_name STRING, n_regionkey INT",
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_read_media_dir_binary_files(spark, tmp_path):
    """binaryFile ingest: one row per file, content bytes intact, glob
    filter and size guard applied before content is materialized."""
    from elb_log_to_mysql_spark.sources.formats import read_media_dir

    payloads = {
        "a.jpg": b"\xff\xd8\xffjpeg-ish-bytes",
        "b.jpg": b"\x89PNG-mislabeled" * 400,  # 6 KB — over the cap below
        "c.txt": b"not media",
    }
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    all_jpg = read_media_dir(spark, str(tmp_path), glob="*.jpg")
    rows = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in all_jpg.collect()}
    assert set(rows) == {"a.jpg", "b.jpg"}
    assert rows["a.jpg"] == payloads["a.jpg"]

    capped = read_media_dir(spark, str(tmp_path), glob="*.jpg", max_bytes=1024)
    assert [r.path.rsplit("/", 1)[-1] for r in capped.collect()] == ["a.jpg"]

    # the payload feeds the multimodal decode path unchanged
    from elb_log_to_mysql_spark.operators import multimodal

    media = all_jpg.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("content").alias("payload"),
    )
    decoded = {r.fmt for r in multimodal.decode_media(media).collect()}
    assert decoded == {"jpeg", "png"}


def test_spread_repartitions_narrow_fact_scan(spark, sf_dir):
    """spread=True must widen a single-row-group fact table to the
    session's parallelism, stay a no-op for small tables, and keep
    filter pushdown reaching the scan through the repartition."""
    target = spark.sparkContext.defaultParallelism
    li = load_table(spark, "/root/testdata/sf0.01", "lineitem", spread=True)
    assert li.rdd.getNumPartitions() == target
    # region: 5 rows, far below the spread threshold — untouched
    region = load_table(spark, "/root/testdata/sf0.01", "region", spread=True)
    assert region.rdd.getNumPartitions() < target
    # result parity with the unspread read
    plain = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    assert li.count() == plain.count()
    # pushdown survives the repartition: Catalyst moves the filter
    # below the exchange into the parquet scan
    plan = (
        li.filter(F.col("l_returnflag") == "A")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and "l_returnflag" in plan.split(
        "PushedFilters"
    )[1][:200]


def test_jsonl_deadletter_routes_corrupt_lines_verbatim(spark, tmp_path):
    from elb_log_to_mysql_spark.sources.formats import read_jsonl_with_deadletter

    p = tmp_path / "in"
    p.mkdir()
    (p / "a.jsonl").write_text(
        '{"k": 1}\n{"k": 2\nnot json at all\n{"k": 3}\n'
    )
    good, dead = read_jsonl_with_deadletter(spark, str(p), "k long")
    assert sorted(r["k"] for r in good.collect()) == [1, 3]
    raws = {r["raw_line"] for r in dead.collect()}
    assert raws == {'{"k": 2', "not json at all"}


def test_python_datasource_partition_invariance(spark):
    """The custom Python source yields the identical table at any
    parallelism (contiguous id slices), and validates its options."""
    import pytest

    from elb_log_to_mysql_spark.sources import pysource

    pysource.register(spark)

    def table(parts):
        return {
            tuple(r)
            for r in spark.read.format("synth_events")
            .option("n", "200")
            .option("parts", str(parts))
            .load()
            .collect()
        }

    assert table(1) == table(4) == table(8)
    assert len(table(4)) == 200
    with pytest.raises(Exception, match="divisible"):
        spark.read.format("synth_events").option("n", "10").option(
            "parts", "3"
        ).load().collect()
