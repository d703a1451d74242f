"""ALB access-log source: gzip text -> parsed, typed DataFrame.

This is the whole reference pipeline (S1,S2,P1-P16 in SURVEY §2.1 —
/root/reference/etl_elb_log_to_mysql.py:53-149) re-expressed as one
declarative column-expression chain:

- S1/S2/P15: ``spark.read.text(paths)`` — the S3A lister paginates
  correctly (the reference truncates at 1000 keys, etl:55), gzip is
  auto-decompressed, and the union across files is implicit. One task
  per .gz file (gzip is unsplittable); ALB buckets hold many small
  files so parallelism comes from file count, which is exactly the
  layout this was designed for.
- P1: tokenization via ``from_csv(sep=' ', quote='"')`` — same
  quoted-field semantics as the reference's ``shlex.split`` (etl:66)
  for well-formed ALB lines (SURVEY §1.2 notes the backslash-escape
  divergence; csv-quote semantics are the spec here).
- P2/P4/P14: row-drop (not null-out) policy for short lines and
  unparseable timestamps (etl:67-69, 81-83, 129-131).
- P3: two-format timestamp fallback (etl:72-80) via coalesced
  ``to_timestamp`` patterns.
- P5: UTC -> America/New_York conversion (etl:41,76-77) done
  explicitly per-column with ``from_utc_timestamp`` — never via the
  session timezone, so the result is host-TZ independent.
- P6-P11,P13: pure column expressions (substring_index, safe casts,
  parse_url, arithmetic) — all inside whole-stage codegen.
- P12: UA families. ``parse_alb_lines`` defaults to the regex-ladder
  expressions (or the exact-parity per-row stage when ``user_agents``
  is available); the file ingests (``read_alb_logs`` and the stream
  ingest) parse once into a cache, classify its distinct agents and
  broadcast-join them back (``parse_and_classify``).
- P16: lineage column via ``input_file_name()``.

Every stage is lazy; Catalyst prunes the discarded token columns, so
``df.limit(1).write`` does NOT parse everything (the reference parses
all files to load one row, etl:168-176).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.functions.casts import safe_float, safe_int
from elb_log_to_mysql_spark.functions.ua import (
    HAVE_USER_AGENTS,
    classify_ua_join,
    classify_ua_rows,
    ua_browser_family_expr,
    ua_os_family_expr,
)
from elb_log_to_mysql_spark.schema import ALB_TOKEN_DDL, ELB_LOG_COLUMNS
from elb_log_to_mysql_spark.session import unpersist_on_gc

# Reference timestamp formats (etl:73): with/without fractional seconds.
_TS_FRAC = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX"
_TS_PLAIN = "yyyy-MM-dd'T'HH:mm:ssX"

LOCAL_TZ = "America/New_York"  # etl:41


def _parse_timestamp(raw: Column) -> Column:
    """P3+P5: two-format fallback, then UTC->local (DST-aware)."""
    utc = F.coalesce(
        F.try_to_timestamp(raw, F.lit(_TS_FRAC)),
        F.try_to_timestamp(raw, F.lit(_TS_PLAIN)),
    )
    return F.from_utc_timestamp(utc, LOCAL_TZ)


def parse_alb_lines(
    lines: DataFrame,
    value_col: str = "value",
    source_file: Column | None = None,
    exact_ua: bool | None = None,
    observation=None,
    ua_strategy: str = "expr",
) -> DataFrame:
    """Parse a DataFrame of raw ALB log lines into the 13-col table.

    `lines` is any DataFrame with a string column `value_col` (from
    ``spark.read.text``, ``readStream.text`` or a test literal).
    `source_file` defaults to ``input_file_name()`` (P16, etl:127).

    `observation`: optional `pyspark.sql.Observation` receiving the
    per-run parse census (n_lines / n_arity_dropped / n_ts_dropped /
    n_emitted) — the Spark-native replacement for the reference's
    per-row WARN logging of skipped lines (X1: logger.py used at
    etl:68, etl:82; counters ride the existing job, no second scan).

    `ua_strategy`: how the UA families are computed. "expr" (default)
    is the in-plan compiled CASE ladder — zero Python, and the cheapest
    plan for small in-memory inputs and for queries that never read
    the UA columns (they prune it). "defer" emits NULL family columns
    and leaves classification to the caller (classify_ua_join on the
    returned frame): the shape of parse_and_classify, which both file
    ingests use, since agents repeat across many rows.
    """
    if ua_strategy not in ("expr", "defer"):
        raise ValueError(
            f"ua_strategy must be 'expr' or 'defer', not {ua_strategy!r}"
        )
    if exact_ua is None:
        exact_ua = HAVE_USER_AGENTS
    elif exact_ua and not HAVE_USER_AGENTS:
        # Explicitly-requested upstream uap-core parity needs either
        # the `user_agents` wrapper or an upstream regexes.yaml via
        # SPARK_ELB_UA_DB; without them the pandas-UDF path evaluates
        # the vendored ~300-entry database (full $n capture semantics;
        # generic bot/compatible-token/product tails NAME unknown
        # agents structurally, but a handful of upstream families
        # differ at the margins). Make that visible instead of silent.
        import warnings

        warnings.warn(
            "exact_ua=True but the `user_agents` package is not "
            "installed: UA families come from the vendored uap-core "
            "database (~300 entries, $n captures; near-complete but "
            "not byte-identical to upstream at the margins). Install "
            "`user_agents` or set SPARK_ELB_UA_DB to an upstream "
            "regexes.yaml for byte-exact parity.",
            RuntimeWarning,
            stacklevel=2,
        )
    src = source_file if source_file is not None else F.input_file_name()

    t = lines.select(
        F.from_csv(
            F.col(value_col), ALB_TOKEN_DDL, {"sep": " ", "quote": '"'}
        ).alias("t"),
        src.alias("log_source_file"),
    ).select("t.*", "log_source_file")

    # P2 arity guard: >=15 tokens <=> ssl_cipher (pos 14) present
    # (etl:67) — plus a shifted-field sanity check: from_csv keeps
    # empty tokens where shlex collapses runs of spaces, so a corrupted
    # line could land garbage in elb_status instead of being dropped;
    # requiring the status token to look like a status/sentinel routes
    # such lines into the drop path (SURVEY §1.2 tokenization caveat).
    arity_ok = F.col("ssl_cipher").isNotNull() & F.col("elb_status").rlike(
        "^[0-9-]+$"
    )

    if observation is not None:
        ts_ok = _parse_timestamp(F.col("raw_timestamp")).isNotNull()
        t = t.observe(
            observation,
            F.count(F.lit(1)).alias("n_lines"),
            F.sum((~arity_ok).cast("long")).alias("n_arity_dropped"),
            F.sum((arity_ok & ~ts_ok).cast("long")).alias("n_ts_dropped"),
            F.sum((arity_ok & ts_ok).cast("long")).alias("n_emitted"),
        )

    t = t.filter(arity_ok)

    ts = _parse_timestamp(F.col("raw_timestamp"))

    # P10: request = "METHOD URL HTTP/x". Reference parity (etl:101-106):
    # the method is req_split[0] whenever the split yields any token —
    # a lone "GETONLY" keeps its method with url="" — and "Unknown" is
    # reserved for the exception path (null request field).
    req_parts = F.split(F.col("request"), " ", 3)
    method = F.when(
        F.size(req_parts) >= 1, req_parts.getItem(0)
    ).otherwise(F.lit("Unknown"))
    url = F.when(F.size(req_parts) >= 2, req_parts.getItem(1)).otherwise(F.lit(""))
    # P11: urlparse(url).path — parse_url handles absolute URLs; a
    # relative URL ("/test") is already a bare path.
    path = F.when(
        url.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"),
        F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")),
    ).otherwise(url)

    if ua_strategy == "defer" or exact_ua:
        # classified after projection (defer: by the caller; exact_ua:
        # per row as its own mapInPandas stage — never a PythonUDF
        # expression inside this projection);
        # placeholders keep the select's column order stable
        browser = F.lit(None).cast("string")
        os_fam = F.lit(None).cast("string")
    else:
        # pass the column NAME: the ladder then renders as one SQL
        # CASE string and crosses py4j once instead of per-arm
        browser = ua_browser_family_expr("user_agent")
        os_fam = ua_os_family_expr("user_agent")

    out = t.select(
        ts.alias("log_timestamp"),
        F.substring_index(F.col("client_port"), ":", 1).alias("client_ip"),  # P6
        method.alias("http_method"),
        path.alias("requested_path"),
        safe_int(F.col("elb_status")).cast("int").alias("elb_status_code"),  # P7
        safe_int(F.col("target_status")).cast("int").alias("backend_status_code"),
        F.round(
            (
                safe_float(F.col("request_time_s"))
                + safe_float(F.col("target_time_s"))
                + safe_float(F.col("response_time_s"))
            )
            * 1000,
            3,
        ).alias("total_processing_time_ms"),  # P8+P9
        safe_int(F.col("received_bytes")).alias("received_bytes"),
        safe_int(F.col("sent_bytes")).alias("sent_bytes"),
        F.col("user_agent").alias("user_agent_full"),
        browser.alias("ua_browser_family"),
        os_fam.alias("ua_os_family"),
        F.col("log_source_file"),
    )

    # P4 drop-row policy: unparseable timestamp drops the record.
    out = out.filter(F.col("log_timestamp").isNotNull()).select(*ELB_LOG_COLUMNS)
    if exact_ua and ua_strategy != "defer":
        # exact-parity per-row evaluator (the reference's code path)
        # as a mapInPandas stage over the projected frame; works for
        # batch and streaming plans alike.
        # ACCEPTED COST (ADVICE r13): the stage round-trips all 13
        # projected columns through Arrow, where the old scalar UDF
        # serialized only user_agent_full — roughly 2-3x the bytes
        # (the UA string is the widest column of the 13). A key-join
        # back would add a full shuffle of the wide frame on a
        # synthetic row key (streaming needs stateful ids); callers
        # whose agents repeat take the distinct-agent join instead
        # (ua_strategy="defer" + classify_ua_join, as
        # parse_and_classify does).
        out = classify_ua_rows(
            out.drop("ua_browser_family", "ua_os_family"),
            "user_agent_full",
            "ua_browser_family",
            "ua_os_family",
        ).select(*ELB_LOG_COLUMNS)
    return out


def parse_and_classify(lines: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The file ingests' one parse shape: the deferred parse of
    `lines`, persisted, with UA families from the distinct-agent
    broadcast join (functions/ua.py:classify_ua_join) over it. Agent
    strings repeat across the rows of a log bucket, so the uap walk
    runs once per distinct agent instead of once per row; the persist
    keeps the lookup side and the row side from parsing the input
    twice. Returns (rows, parse cache); the caller releases the cache
    once `rows` is consumed."""
    parsed = parse_alb_lines(lines, ua_strategy="defer").persist()
    return classify_ua_join(parsed, prefer_wrapper=HAVE_USER_AGENTS), parsed


def read_alb_logs(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S1+S2: read gzip'd ALB logs (local path, glob, or s3a:// URI).

    ``spark.read.text`` handles listing (paginated), decompression and
    the multi-file union; works identically for ``s3a://bucket/prefix/*.gz``
    given hadoop-aws on the classpath.

    Parsed and classified by `parse_and_classify`, as the stream ingest
    does per micro-batch; the parse cache lives until the returned
    frame is garbage-collected.
    """
    lines = spark.read.text(paths if isinstance(paths, list) else [paths])
    rows, parsed = parse_and_classify(lines)
    return unpersist_on_gc(rows, parsed)
