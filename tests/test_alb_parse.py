"""ALB parse-pipeline parity tests.

Golden line + negative fixtures from the reference's (commented-out)
tests at /root/reference/tests/test_utils.py:14-44, plus a
property-based sweep comparing the Spark pipeline against a pure
Python oracle transcribed from the reference parser semantics
(etl:64-131).
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.sources.alb import parse_alb_lines

GOLDEN = (
    "h2 2025-05-26T23:55:02.179979Z app/erank-app/xxxxxxx 1.2.3.4:5678 5.6.7.8:80 "
    "0.001 0.303 0.000 200 200 74 1013 "
    '"POST https://example.com:443/api/browser-ext-user HTTP/2.0" '
    '"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) '
    'Chrome/136.0.0.0 Safari/537.36" '
    "TLS_AES_128_GCM_SHA256 TLSv1.3 arn:aws:elasticloadbalancing:us-east-1:xxx "
    '"Root=1-xxx" "example.com" "arn:cert" 0 2025-05-26T23:55:01.875000Z '
    '"waf,forward" "-" "-" "5.6.7.8:80" "200" "-" "-" TID_xxx'
)


def parse(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    return parse_alb_lines(df, source_file=F.lit("test.gz")).collect()


def test_golden_line(spark):
    rows = parse(spark, [GOLDEN])
    assert len(rows) == 1
    r = rows[0]
    assert r.client_ip == "1.2.3.4"
    assert r.http_method == "POST"
    assert r.requested_path == "/api/browser-ext-user"
    assert r.elb_status_code == 200
    assert r.backend_status_code == 200
    assert r.total_processing_time_ms == 304.0
    assert r.received_bytes == 74
    assert r.sent_bytes == 1013
    assert r.ua_browser_family == "Chrome"
    assert r.ua_os_family == "Windows"
    assert r.log_source_file == "test.gz"
    # UTC 23:55 -> America/New_York (EDT, -4) 19:55, microseconds kept
    assert r.log_timestamp == datetime.datetime(2025, 5, 26, 19, 55, 2, 179979)


def test_short_line_dropped(spark):
    assert parse(spark, ["only this"]) == []


def test_bad_timestamp_dropped(spark):
    assert parse(spark, [GOLDEN.replace("2025-05-26T23:55:02.179979Z", "badts", 1)]) == []


def test_sentinel_coercions(spark):
    line = (
        "http 2025-01-05T12:00:00Z app/x/y 9.8.7.6:1111 - -1 -1 -1 - - -1 -1 "
        '"GET /test HTTP/1.1" "-" - - -'
    )
    r = parse(spark, [line])[0]
    assert r.elb_status_code == 0 and r.backend_status_code == 0
    assert r.received_bytes == 0 and r.sent_bytes == 0
    assert r.total_processing_time_ms == -3000.0  # floats keep -1 (etl:46-50)
    assert r.requested_path == "/test"  # relative URL passthrough
    assert r.ua_browser_family == "Unknown" and r.ua_os_family == "Unknown"
    # winter date: EST (-5)
    assert r.log_timestamp == datetime.datetime(2025, 1, 5, 7, 0, 0)


def test_malformed_request_field(spark):
    """Reference parity (etl:101-106): a single-token request keeps
    that token as the method (req_split[0]); only the exception path
    yields 'Unknown'. Verified against the reference empirically
    (ADVICE round 1)."""
    line = (
        "http 2025-06-05T12:00:00Z app/x/y 9.8.7.6:1111 1.1.1.1:80 0.1 0.1 0.1 "
        '200 200 10 20 "justoneword" "UA here" c p a'
    )
    r = parse(spark, [line])[0]
    assert r.http_method == "justoneword"
    assert r.requested_path == ""


def test_shifted_fields_dropped_not_garbled(spark):
    """csv tokenization keeps empty tokens where shlex collapses runs
    of spaces; the elb_status sanity filter routes such shifted lines
    into the drop path instead of emitting garbled records (documented
    divergence: the reference would keep the line with status 0)."""
    # double space after the target field shifts every later token
    shifted = (
        "h2 2025-06-05T12:00:00Z app/x/y 9.8.7.6:1111 1.1.1.1:80  0.1 0.1 0.1 "
        '200 200 10 20 "GET /x HTTP/1.1" "UA" c p a'
    )
    assert parse(spark, [shifted]) == []


def test_ua_ladder_families(spark):
    """Divergence corpus for the regex ladder: long-tail families use
    uap-core's spelling (ADVICE round 1 — Googlebot, Apache-HttpClient,
    Yandex/UC collapse was the flagged gap); since r8, structured rare
    agents resolve to their product token through the generic $1
    tails, and only unstructured strings collapse to 'Other'."""
    from elb_log_to_mysql_spark.functions.ua import (
        ua_browser_family_expr,
        ua_os_family_expr,
    )

    cases = [
        # (ua string, expected browser family, expected os family)
        ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
         "Googlebot", "Other"),
        # Google crawls with a Chromium build — bot must win over Chrome
        ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; "
         "Googlebot/2.1; +http://www.google.com/bot.html) Chrome/119.0.6045.0 Safari/537.36",
         "Googlebot", "Other"),
        ("Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
         "bingbot", "Other"),
        ("Apache-HttpClient/4.5.13 (Java/1.8.0_292)", "Apache-HttpClient", "Other"),
        ("curl/8.5.0", "curl", "Other"),
        ("python-requests/2.31.0", "Python Requests", "Other"),
        ("Go-http-client/2.0", "Go-http-client", "Other"),
        ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/120.0.0.0 YaBrowser/24.1.0.0 Safari/537.36",
         "Yandex Browser", "Windows"),
        ("Mozilla/5.0 (Linux; U; Android 10) AppleWebKit/537.36 (KHTML, like Gecko) "
         "Version/4.0 Chrome/78.0.3904.108 UCBrowser/13.4.0.1306 Mobile Safari/537.36",
         "UC Browser", "Android"),
        ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.0.0",
         "Edge", "Windows"),
        ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) "
         "HeadlessChrome/119.0.6045.0 Safari/537.36", "HeadlessChrome", "Linux"),
        # r8: structured long-tail agents resolve to their product
        # token via the generic $1 tails (uap-core behavior); only
        # unstructured strings — and unmatched Mozilla/ UAs — are Other
        ("SomeNeverSeenAgent/1.0", "SomeNeverSeenAgent", "Other"),
        ("just some freeform text", "Other", "Other"),
        ("Mozilla/5.0 (Strange NewThing 1.0)", "Other", "Other"),
    ]
    df = spark.createDataFrame([(ua,) for ua, _, _ in cases], "ua string")
    rows = df.select(
        ua_browser_family_expr("ua").alias("b"), ua_os_family_expr("ua").alias("o")
    ).collect()
    for (ua, want_b, want_o), r in zip(cases, rows):
        assert r.b == want_b, f"{ua!r}: browser {r.b!r} != {want_b!r}"
        assert r.o == want_o, f"{ua!r}: os {r.o!r} != {want_o!r}"


# -- property-based: Spark pipeline vs pure-Python reference oracle ---------

_INT_TOKENS = st.sampled_from(["-", "-1", "0", "200", "404", "999", "x"])
_FLOAT_TOKENS = st.sampled_from(["-1", "0.001", "0.5", "-", "abc", "2"])
_TS_TOKENS = st.sampled_from(
    [
        "2025-05-26T23:55:02.179979Z",
        "2025-05-26T23:55:02Z",
        "2025-01-01T00:00:00Z",
        "badtimestamp",
        "2025-13-40T99:99:99Z",
    ]
)
_REQ = st.sampled_from(
    [
        '"GET https://h.example/a/b HTTP/1.1"',
        '"POST /rel/path HTTP/2.0"',
        '"weird"',
        '"-"',
    ]
)


def _py_oracle_keep(ts: str, nums_ok: bool = True) -> bool:
    for fmt in ("%Y-%m-%dT%H:%M:%S.%fZ", "%Y-%m-%dT%H:%M:%SZ"):
        try:
            datetime.datetime.strptime(ts, fmt)
            return True
        except ValueError:
            continue
    return False


def _py_to_int(v: str) -> int:
    return int(v) if v.isdigit() else 0


def _py_to_float(v: str) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


@given(
    ts=_TS_TOKENS,
    f1=_FLOAT_TOKENS,
    f2=_FLOAT_TOKENS,
    elb_code=_INT_TOKENS,
    rb=_INT_TOKENS,
    req=_REQ,
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_parse_matches_python_oracle(spark, ts, f1, f2, elb_code, rb, req):
    line = (
        f"h2 {ts} app/x/y 10.0.0.1:443 10.1.1.1:80 {f1} {f2} 0.000 "
        f'{elb_code} 200 {rb} 555 {req} "Mozilla/5.0 test" CIPHER TLSv1.3 arn'
    )
    rows = parse(spark, [line])
    # Engine spec: unparseable timestamps drop (reference parity) AND
    # non-status-shaped elb_status tokens drop (sanity filter — the
    # reference would coerce 'x' to 0; we route it to the drop path
    # so shifted/corrupt lines never emit garbled records).
    import re

    if not _py_oracle_keep(ts) or not re.fullmatch(r"[0-9-]+", elb_code):
        assert rows == []
        return
    assert len(rows) == 1
    r = rows[0]
    assert r.elb_status_code == _py_to_int(elb_code)
    assert r.received_bytes == _py_to_int(rb)
    expected_ms = round((_py_to_float(f1) + _py_to_float(f2) + 0.0) * 1000, 3)
    assert abs(r.total_processing_time_ms - expected_ms) < 1e-9
    assert r.client_ip == "10.0.0.1"


def test_parse_observation_census(spark):
    """observe() metrics replace the reference's per-row skip logging
    (etl:68, etl:82): counts ride the job, no second scan."""
    from pyspark.sql import Observation

    from elb_log_to_mysql_spark.sources.alb import parse_alb_lines

    good = (
        'h2 2025-05-26T10:00:00.000123Z app/x/y 1.2.3.4:5678 5.6.7.8:80 '
        '0.001 0.020 0.000 200 200 100 2000 "GET https://ex.com/p HTTP/2.0" '
        '"UA" CIPHER TLSv1.3 arn'
    )
    bad_ts = good.replace("2025-05-26T10:00:00.000123Z", "badtimestamp")
    short = "only this"
    lines = spark.createDataFrame(
        [(good,), (good,), (bad_ts,), (short,)], "value string"
    )
    obs = Observation("alb_census")
    out = parse_alb_lines(lines, source_file=F.lit("test"), observation=obs)
    assert out.count() == 2
    got = obs.get
    assert got == {
        "n_lines": 4,
        "n_arity_dropped": 1,
        "n_ts_dropped": 1,
        "n_emitted": 2,
    }


def test_main_run_etl_parquet_fallback(spark, tmp_path, monkeypatch):
    """The runnable entrypoint (main.py:run_etl) with a local LOG_PATH
    and no DB config: parses the directory and lands parquet."""
    from elb_log_to_mysql_spark.main import log_path_from_env, run_etl

    src = tmp_path / "logs"
    src.mkdir()
    (src / "a.log").write_text(
        'h2 2025-05-26T10:00:01.000123Z app/x/y 1.2.3.4:443 5.6.7.8:80 '
        '0.001 0.020 0.000 200 200 100 2000 '
        '"GET https://ex.com/p HTTP/2.0" "curl/8.5.0" CIPHER TLSv1.3 arn\n'
        * 7
    )
    monkeypatch.setenv("LOG_PATH", str(src) + "/*.log")
    monkeypatch.delenv("AWS_BUCKET_NAME", raising=False)
    assert log_path_from_env().endswith("*.log")
    n = run_etl(
        spark, log_path_from_env(), None, fallback_dir=str(tmp_path / "out")
    )
    assert n == 7
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.columns[:2] == ["log_timestamp", "client_ip"]


def test_main_env_url_assembly(monkeypatch):
    from elb_log_to_mysql_spark.main import log_path_from_env, mysql_url_from_env

    monkeypatch.setenv("DB_HOST", "db.example")
    monkeypatch.setenv("DB_USER", "u")
    monkeypatch.setenv("DB_NAME", "logs")
    monkeypatch.delenv("DB_PORT", raising=False)
    assert mysql_url_from_env() == "jdbc:mysql://db.example:3306/logs"
    monkeypatch.delenv("LOG_PATH", raising=False)
    monkeypatch.setenv("AWS_BUCKET_NAME", "b")
    monkeypatch.setenv("AWS_LOG_PREFIX", "elb/prod/")
    assert log_path_from_env() == "s3a://b/elb/prod/*.gz"


def test_ua_join_strategy_matches_expr_ladder(spark):
    """classify_ua_join over the deferred parse (distinct agents ->
    evaluator -> broadcast join, the shape of read_alb_logs and of the
    stream ingest's micro-batch) must emit byte-identical rows to the
    default in-plan CASE ladder — including the blank
    sentinel ("-" -> Unknown), generic $n capture tails, and plain
    "Other" fallbacks. The two compilations of the same vendored
    database are certified equal by the ua_classify gate; this pins
    the JOIN PLUMBING (null handling, column order, row alignment)."""

    def with_ua(ua: str) -> str:
        return GOLDEN.replace(
            "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
            "(KHTML, like Gecko) Chrome/136.0.0.0 Safari/537.36",
            ua,
        )

    lines = [
        GOLDEN,
        with_ua("-"),                              # blank sentinel
        with_ua("GPTBot/1.0"),                     # bot database row
        with_ua("somethingbot/9.1"),               # generic *bot tail
        with_ua("curl/8.4.0"),                     # product/version tail
        with_ua("completely unstructured string"),  # Other
        with_ua("Mozilla/5.0 (Macintosh; Intel Mac OS X 14_5) "
                "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.5 "
                "Safari/605.1.15"),                 # Safari / Mac OS X
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    from elb_log_to_mysql_spark.functions.ua import classify_ua_join

    expr_rows = sorted(
        parse_alb_lines(df, source_file=F.lit("t.gz")).collect()
    )
    deferred = parse_alb_lines(
        df, source_file=F.lit("t.gz"), ua_strategy="defer"
    )
    assert deferred.where(
        F.col("ua_browser_family").isNotNull()
        | F.col("ua_os_family").isNotNull()
    ).count() == 0
    join_rows = sorted(classify_ua_join(deferred).collect())
    assert join_rows == expr_rows
    assert len(join_rows) == len(lines)
    fams = {r.user_agent_full: r.ua_browser_family for r in join_rows}
    assert fams["-"] == "Unknown"

    # the streaming micro-batch shape: classify over the persisted
    # deferred frame — identical rows again
    persisted = deferred.persist()
    try:
        defer_rows = sorted(classify_ua_join(persisted).collect())
    finally:
        persisted.unpersist()
    assert defer_rows == expr_rows

    # the exact-parity per-row path (exact_ua=True with the expr
    # strategy) — since r13 a post-projection mapInPandas stage, so
    # pin rows AND column order against the ladder path. The vendored
    # evaluator and the ladder are certified equal by the ua_classify
    # gate, so rows must match exactly (user_agents absent here).
    exact_df = parse_alb_lines(
        df, source_file=F.lit("t.gz"), exact_ua=True, ua_strategy="expr"
    )
    from elb_log_to_mysql_spark.schema import ELB_LOG_COLUMNS

    assert exact_df.columns == list(ELB_LOG_COLUMNS)
    assert sorted(exact_df.collect()) == expr_rows


def _assert_ua_join_plan(out) -> None:
    """UA families arrive via a broadcast join, exactly one Python eval
    runs (the evaluator over the DISTINCT agents), and the rlike
    ladder is absent. The ladder renders ~300 RLIKE arms in the
    formatted plan; the arity guard and the URL scheme test render a
    few per scan of the input."""
    from elb_log_to_mysql_spark.plans.inspect import formatted_plan, plan_report

    rep = plan_report(out)
    assert rep["broadcast_joins"] >= 1
    assert rep["python_evals"] == 1
    assert formatted_plan(out).lower().count("rlike") < 30


def test_ua_join_plan_shape(spark):
    """The streaming micro-batch shape's PLAN contract: UA families
    arrive via a BROADCAST join against the distinct-agent lookup
    (one Arrow/Python eval node on the tiny dimension side), and the
    ~600-arm regex CASE ladder is absent — the property that fixed
    the r8 ingest throughput dip (SCALE.md round-9)."""
    from elb_log_to_mysql_spark.functions.ua import classify_ua_join
    from elb_log_to_mysql_spark.plans.inspect import plan_report

    df = spark.createDataFrame([(ln,) for ln in [GOLDEN]], "value string")
    out = classify_ua_join(
        parse_alb_lines(df, source_file=F.lit("t.gz"), ua_strategy="defer")
    )
    out.collect()
    _assert_ua_join_plan(out)
    rep = plan_report(out)
    assert rep["sortmerge_joins"] == 0 and rep["shuffled_hash_joins"] == 0


def test_ua_strategy_rejects_removed_values(spark):
    """ua_strategy accepts only "expr" and "defer"; any other value
    raises instead of silently taking one of them."""
    df = spark.createDataFrame([(GOLDEN,)], "value string")
    for removed in ("join", "auto"):
        with pytest.raises(ValueError, match="ua_strategy"):
            parse_alb_lines(df, ua_strategy=removed)


def _local_bytes_read(spark) -> int:
    """Bytes read through Hadoop's local filesystem so far, over every
    task of this (local-mode) JVM."""
    return sum(
        st.getBytesRead()
        for st in spark._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
        if st.getScheme() == "file"
    )


def test_read_alb_logs_plan_shape(spark, tmp_path):
    """Batch read_alb_logs classifies like the stream ingest: the
    families arrive via a broadcast join against the distinct-agent
    lookup (one Python eval, over the distinct agents) and the
    ~600-arm rlike ladder is absent from the plan. The gzip files are
    read once: the lookup and the rows share one persisted parse,
    which a second action reuses, and dropping the result releases
    it."""
    import gc
    import gzip

    from elb_log_to_mysql_spark.sources.alb import read_alb_logs

    for f in range(2):
        with gzip.open(tmp_path / f"f{f}.log.gz", "wt") as fh:
            fh.write((GOLDEN + "\n") * 3)
    size = sum(p.stat().st_size for p in tmp_path.glob("*.log.gz"))
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache.cachedData().size()

    out = read_alb_logs(spark, str(tmp_path / "*.log.gz"))
    read_before = _local_bytes_read(spark)
    rows = out.collect()
    assert _local_bytes_read(spark) - read_before == size
    assert len(out.collect()) == len(rows)
    assert _local_bytes_read(spark) - read_before == size
    assert len(rows) == 6
    assert {(r.ua_browser_family, r.ua_os_family) for r in rows} == {
        ("Chrome", "Windows")
    }
    _assert_ua_join_plan(out)
    assert cache.cachedData().size() == cached_before + 1

    del out
    gc.collect()
    assert cache.cachedData().size() == cached_before
