"""The two stream near-dedup audit entries (queries.py), run end to
end against their DuckDB oracles, and their failure path: a stream
that raises leaves no thread, cache or persisted RDD behind."""

from __future__ import annotations

import threading

import pytest

from elb_log_to_mysql_spark import queries
from elb_log_to_mysql_spark.queries import ORACLE_SQL, QUERIES
from elb_log_to_mysql_spark.session import scoped_conf

STREAM_AUDITS = [
    "stream_near_dedup",
    "stream_near_dedup_blocklist",
]


# (name, batch shuffle partitions): None keeps the session's count;
# with "32" the stream runs at one partition per core while the
# exact-Jaccard leg and the verifier run at 32.
AUDIT_CASES = [
    pytest.param(name, parts, id=name if parts is None else f"{name}-{parts}")
    for parts in (None, "32")
    for name in STREAM_AUDITS
]


@pytest.mark.parametrize("name,batch_partitions", AUDIT_CASES)
def test_stream_audit_row_equals_oracle(spark, sf_dir, con, name, batch_partitions):
    """The audit row equals its oracle whatever the partition counts."""
    partitions = batch_partitions or spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_conf(spark, "spark.sql.shuffle.partitions", partitions):
        out = QUERIES[name](spark, sf_dir)
        got = [tuple(r) for r in out.collect()]
    want = con.execute(ORACLE_SQL[name])
    assert out.columns == [d[0] for d in want.description]
    assert len(got) == 1
    assert got == want.fetchall()


def test_stream_audit_failure_leaves_nothing_behind(spark, sf_dir, monkeypatch):
    def _stream_fails(*args, **kwargs):
        raise RuntimeError("stream failed")

    monkeypatch.setattr(queries, "run_stream_to_batch", _stream_fails)
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    threads_before = set(threading.enumerate())
    rdds_before = jsc.getPersistentRDDs().size()
    cached_before = cache.cachedData().size()

    with pytest.raises(RuntimeError, match="stream failed"):
        QUERIES["stream_near_dedup"](spark, sf_dir)

    started = [
        t for t in threading.enumerate() if t not in threads_before and t.is_alive()
    ]
    assert started == []
    assert jsc.getPersistentRDDs().size() == rdds_before
    assert cache.cachedData().size() == cached_before
