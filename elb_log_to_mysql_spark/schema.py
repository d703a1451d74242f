"""Explicit schemas — the single source of truth.

The reference's schema is implicit (dict literal at
/root/reference/etl_elb_log_to_mysql.py:114-128, dtypes inferred by
pandas/SQLAlchemy). Here it is one explicit StructType, plus the raw
ALB token schema used by the CSV tokenizer and the driver-generated
test-table schemas (FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Raw ALB access-log token schema (FIXTURES.md §1).
# Positions 0..16 of the space-separated, double-quoted-field line.
# Only positions consumed by the parser get meaningful names; the
# arity guard (>=15 tokens, etl:67) maps to `ssl_cipher IS NOT NULL`.
# ---------------------------------------------------------------------------
ALB_TOKEN_FIELDS = [
    "req_type",          # 0  discarded
    "raw_timestamp",     # 1
    "elb_resource",      # 2  discarded
    "client_port",       # 3  client:port
    "target_port",       # 4  discarded
    "request_time_s",    # 5
    "target_time_s",     # 6
    "response_time_s",   # 7
    "elb_status",        # 8
    "target_status",     # 9
    "received_bytes",    # 10
    "sent_bytes",        # 11
    "request",           # 12 quoted "METHOD URL HTTP/x"
    "user_agent",        # 13 quoted
    "ssl_cipher",        # 14 arity sentinel
    "ssl_protocol",      # 15 discarded
    "target_group_arn",  # 16 discarded
]

# DDL string form for from_csv (which takes a schema literal).
ALB_TOKEN_DDL = ", ".join(f"{name} STRING" for name in ALB_TOKEN_FIELDS)

# ---------------------------------------------------------------------------
# Parsed output table `elb_log_data` (reference etl:114-128; SURVEY §1.2).
# ---------------------------------------------------------------------------
ELB_LOG_SCHEMA = T.StructType(
    [
        T.StructField("log_timestamp", T.TimestampType(), True),
        T.StructField("client_ip", T.StringType(), True),
        T.StructField("http_method", T.StringType(), True),
        T.StructField("requested_path", T.StringType(), True),
        T.StructField("elb_status_code", T.IntegerType(), True),
        T.StructField("backend_status_code", T.IntegerType(), True),
        T.StructField("total_processing_time_ms", T.DoubleType(), True),
        T.StructField("received_bytes", T.LongType(), True),
        T.StructField("sent_bytes", T.LongType(), True),
        T.StructField("user_agent_full", T.StringType(), True),
        T.StructField("ua_browser_family", T.StringType(), True),
        T.StructField("ua_os_family", T.StringType(), True),
        T.StructField("log_source_file", T.StringType(), True),
    ]
)

ELB_LOG_COLUMNS = [f.name for f in ELB_LOG_SCHEMA.fields]

# ---------------------------------------------------------------------------
# Driver test tables (FIXTURES.md §3) — names only; parquet footers carry
# the authoritative types, so the loader reads them as-is.
# ---------------------------------------------------------------------------
TEST_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
