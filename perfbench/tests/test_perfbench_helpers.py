"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import os
import random
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog, gen_alb, gen_corpus  # noqa: E402
from perfbench.stats import canon, fingerprint, iqr_share  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- generators ---------------------------------------------------------------

def _alb(tmp_path, seed, name):
    paths, truths = gen_alb.write_alb_files(str(tmp_path / name), seed, 2, 400)
    return [open(p, "rb").read() for p in paths], gen_alb.total(truths)


def test_alb_generator_is_deterministic_per_seed(tmp_path):
    a_bytes, a = _alb(tmp_path, 5, "a")
    b_bytes, b = _alb(tmp_path, 5, "b")
    c_bytes, c = _alb(tmp_path, 6, "c")
    assert a_bytes == b_bytes
    assert a.summary() == b.summary() and a.by_status == b.by_status
    assert c_bytes != a_bytes and c.fingerprint != a.fingerprint


def test_alb_generator_truth_counts_its_lines(tmp_path):
    paths, truths = gen_alb.write_alb_files(str(tmp_path), 9, 3, 1000)
    t = gen_alb.total(truths)
    lines = [line for p in paths for line in gzip.open(p, "rt").read().splitlines()]
    assert len(lines) == t.lines == 3000
    assert t.valid + t.short + t.bad_ts == t.lines
    assert t.short > 0 and t.bad_ts > 0
    assert sum(n for n, _, _ in t.by_status.values()) == t.valid
    assert sum('"-"' in line for line in lines) > 0  # the sentinel agent
    assert any(" - " in line or " -1 " in line for line in lines)
    assert any('"GET https://' in line for line in lines)
    assert any('"GET /' in line for line in lines)
    assert any("Z app/" in line and "." not in line.split()[1] for line in lines[:200])
    assert t.dup_factor == t.valid / len(t.agents_seen)


def test_expected_processing_time_matches_decimal_round():
    """-1 + 0.059 + 0.941 sums to a tiny negative double: the parser's
    decimal round gives 0.0, never -0.0."""
    f = {"epoch": gen_alb.DAY0, "micros": 0, "client_ip": "10.0.0.1", "method": "GET",
         "path": "/", "elb_status": "200", "target_status": "-", "times": ["-1", "0.059", "0.941"],
         "recv": "-1", "sent": "5", "ua": "-", "browser": "Unknown", "os": "Unknown"}
    row = gen_alb.expected_row(f, "a.gz")
    assert row[6] == "0.0" and row[4:6] == (200, 0) and row[7:9] == (0, 5)
    assert row[0] == "2025-05-25 20:00:00.000000"  # UTC midnight in New York (EDT)


def test_agent_pool_ranks_same_families_for_every_seed():
    a = gen_alb.agent_pool(random.Random(1))
    b = gen_alb.agent_pool(random.Random(2))
    assert len(a) == len({ua for ua, _, _ in a}) == gen_alb.N_AGENTS
    assert a[gen_alb.SENTINEL_RANK] == gen_alb.SENTINEL_AGENT
    assert [f for _, f, _ in a[:40]] == [f for _, f, _ in b[:40]]
    assert a != b


def test_corpus_generator_is_deterministic_per_seed(tmp_path):
    a = gen_corpus.write_corpus(str(tmp_path / "a"), 3, 50, 20)
    b = gen_corpus.write_corpus(str(tmp_path / "b"), 3, 50, 20)
    c = gen_corpus.write_corpus(str(tmp_path / "c"), 4, 50, 20)
    assert a == b and a != c
    for name in ("documents.parquet", "embeddings.parquet"):
        assert open(tmp_path / "a" / name, "rb").read() == open(tmp_path / "b" / name, "rb").read()


def test_corpus_generator_keeps_sf01_shape():
    """Near-copies: an exact 5% share, every one a trigram-Jaccard pair
    >= 0.6 with its source in nearly every case (sf0.1: 0.051 pairs per
    document)."""
    from perfbench.corpus import exact_jaccard_pairs

    docs = gen_corpus.documents(random.Random(11), 600)
    assert sum(d["text"].endswith(" dup") for d in docs) == 30
    assert len({w for d in docs for w in d["text"].split()}) == 31
    assert 0.045 <= len(exact_jaccard_pairs(docs, 0.6)) / len(docs) <= 0.06
    assert 0.35 <= sum(d["lang"] == "en" for d in docs) / len(docs) <= 0.47
    vecs = gen_corpus.embeddings(random.Random(11), 50)
    assert all(abs(sum(x * x for x in v["embedding"]) - 1) < 1e-9 for v in vecs)


# -- fingerprints -------------------------------------------------------------

def test_fingerprint_ignores_row_order():
    rows = [(i, f"s{i % 7}", i / 3, None) for i in range(200)]
    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    assert fingerprint(rows) == fingerprint(shuffled)


def test_fingerprint_sees_values_duplicates_and_count():
    rows = [(1, "a"), (2, "b")]
    assert fingerprint(rows) != fingerprint([(1, "a"), (2, "c")])
    assert fingerprint(rows) != fingerprint(rows + [(1, "a")])
    assert fingerprint([(1, "a"), (1, "a")]) != fingerprint([(2, "b"), (2, "b")])
    assert fingerprint([]) == "0:0000000000000000"


def test_canon_rounds_floats_and_marks_null():
    assert canon(0.1 + 0.2) == canon(0.3)
    assert canon(-0.0) == canon(0.0) == "0.0"
    assert canon(None) != canon("None")
    assert canon(1) == "1" and canon(1.0) == "1.0"


# -- summary statistics -------------------------------------------------------

def test_iqr_share_uses_statistics_quartiles():
    values = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert iqr_share(values) == pytest.approx((q3 - q1) / q2)
    # exclusive method on 1..10: quartiles at positions 2.75, 5.5, 8.25
    assert iqr_share(list(range(1, 11))) == pytest.approx((8.25 - 2.75) / 5.5)
    assert iqr_share([2.0] * 10) == 0


# -- event-log folder ---------------------------------------------------------

def test_eventlog_fold_totals_on_sample():
    """The committed sample is a trimmed Spark 4.1 event log: one JDBC
    sink write (three lineage collect jobs and the insert job) and one
    n-gram Jaccard execution (eight jobs, one join)."""
    f = eventlog.fold_dir(DATA)
    assert len(f.jobs) == 12
    sink = [j for j in f.jobs if j.group == "sinks.write_jdbc_idempotent"]
    ngram = [j for j in f.jobs if j.group == "operators.ngram_jaccard"]
    assert len(sink) == 4 and len(ngram) == 8
    assert sum(j.call_site.startswith("collect") for j in sink) == 3
    assert sum(j.tasks for j in sink) == 7
    assert sum(j.executor_cpu_ms for j in sink) == pytest.approx(1744.254784)
    assert sum(j.gc_ms for j in sink) == 210
    assert sum(j.shuffle_write_bytes for j in sink) == 216
    assert sum(j.tasks for j in ngram) == 20
    assert sum(j.shuffle_write_bytes for j in ngram) == 34655
    assert sum(j.spill_bytes for j in f.jobs) == 0
    assert sink[0].wall_s == pytest.approx(1.357)
    (ex,) = [x for x in f.sql if x.group == "operators.ngram_jaccard"]
    assert eventlog.join_rows(ex) == 614
    assert f.peak_heap_bytes == 491839496
