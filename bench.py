"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "v2": {"metric": ..., "value": ..., "queries": {...}}}

A block whose cells raised carries an "errors" map and a null
"value", and the run exits 1: a total of the cells that ran is not a
faster run.

The primary metric is the FROZEN 42-query set (comparable to
BASELINE.md's 35.88 s row across every round). The nested "v2" block
is the adopted headline-v2 extension (VERDICT r13 item 6): one
representative per family added since the set froze — bm25_topk,
hybrid_rrf, corpus_pipeline, stream_near_dedup, sql_interface_tpch_q1
— reported as its OWN total so it starts its own series (r12/r13
appendix rows in BASELINE.md are its pre-adoption trend). Both totals
ride in the single JSON record because the driver contract parses one
line.

Each query is fully materialized through the noop sink (no driver
collect, no result-size bias) after a small JVM warm-up. Designed to
be comparable run-to-run: fixed query list, fixed session conf.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from elb_log_to_mysql_spark.queries import QUERIES  # noqa: E402
from elb_log_to_mysql_spark.session import build_session  # noqa: E402

HEADLINE = [
    "elb_parse",
    "filter_project",
    "hash_agg",
    "inner_join",
    "broadcast_join",
    "range_join",
    "asof_join",
    "tpch_q3",
    "tpch_q6",
    "tpch_q9",
    "tpch_q10",
    "tpch_q18",
    "tpch_q21",
    "skew_salted_agg",
    "distinct_agg",
    "scalar_subquery",
    "window_analytic",
    "window_range",
    "group_map_profile",
    "topk_per_group",
    "set_ops",
    "exact_dedup",
    "sessionize",
    "text_stats",
    "token_count",
    "tfidf",
    "ngram_jaccard",
    "near_dedup",
    "simhash_pairs",
    "similarity_topk",
    "similarity_topk_lsh",
    "stream_tumbling",
    "multimodal_meta",
    "multimodal_frames",
    "decontaminate",
    "shuffle_index",
    "pii_scrub",
    "sequence_pack",
    "window_distribution",
    "scd2_history",
    "incremental_agg",
    "sketch_rollup",
]

# headline v2 (+5): adopted per VERDICT r13 item 6; measured with the
# same min-of-2 methodology but totaled SEPARATELY so the frozen-42
# series stays comparable to its baseline.
HEADLINE_V2 = [
    "bm25_topk",
    "hybrid_rrf",
    "corpus_pipeline",
    "stream_near_dedup",
    "sql_interface_tpch_q1",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bench_similarity_topk_lsh(spark, sf_dir):
    from pyspark.sql import functions as F

    from elb_log_to_mysql_spark.operators import similarity
    from elb_log_to_mysql_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.similarity_topk_lsh(
        emb, emb.filter(F.col("vec_id") < 20), k=10, n_planes=3, n_tables=24
    )


def _bench_near_dedup(spark, sf_dir):
    from elb_log_to_mysql_spark.operators import dedup
    from elb_log_to_mysql_spark.sources.tables import load_table

    # The registered entry is a recall/precision audit whose dominant
    # cost is the exact-Jaccard ground-truth leg; the bench times the
    # production LSH operator itself, matching BASELINE.md's row.
    return dedup.near_dedup_minhash(load_table(spark, sf_dir, "documents"))


def _bench_simhash_pairs(spark, sf_dir):
    from elb_log_to_mysql_spark.operators import dedup
    from elb_log_to_mysql_spark.sources.tables import load_table

    # max_hamming=6 matches the registered audit's blocking config
    # (8-way); the default 3 would time a cheaper operator than the
    # one the audit validates.
    return dedup.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=6
    )


def _bench_sketch_rollup(spark, sf_dir):
    from elb_log_to_mysql_spark.operators import advanced
    from elb_log_to_mysql_spark.sources.tables import load_tables

    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation", "region"])
    return advanced.sketch_rollup(
        t["lineitem"], t["supplier"], t["nation"], t["region"]
    )


# The registered queries for these keys are recall AUDITS (operator +
# exact twin + join) so the driver's oracle row is meaningful; the
# bench measures the pure operator at the same config, keeping the
# timing comparable to BASELINE.md's per-operator rows.
OVERRIDES = {
    "near_dedup": _bench_near_dedup,
    "similarity_topk_lsh": _bench_similarity_topk_lsh,
    "simhash_pairs": _bench_simhash_pairs,
    "sketch_rollup": _bench_sketch_rollup,
}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Python workers import the package from this checkout too; they
    # inherit the environment of the JVM the session starts.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = build_session(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-ups must never kill the bench (round 3 lost its number to a
    # pre-loop crash): a failed warm-up only means the first measured
    # query pays the startup cost — worse timings, not a missing round.
    try:
        # JVM / codegen / parquet footer caches
        materialize(QUERIES["hash_agg"](spark, sf_dir))
        # Python UDF workers: the first Arrow-UDF stage forks one
        # worker per core, each importing pandas/numpy (~10s
        # one-time); pay it here so no measured query carries the
        # startup instead of its own cost. Workers are reused
        # afterwards (spark.python.worker.reuse).
        from pyspark.sql import functions as F
        from elb_log_to_mysql_spark.functions.vectorops import (
            with_pairwise_cosine,
        )

        with_pairwise_cosine(
            spark.range(10_000).select(
                F.array(F.lit(1.0), F.lit(2.0)).alias("a"),
                F.array(F.lit(3.0), F.lit(4.0)).alias("b"),
            ),
            "a",
            "b",
        ).write.format("noop").mode("overwrite").save()
    except Exception:  # noqa: BLE001
        pass

    # min of N runs per query: the shared host shows ±2x noise on
    # individual timings; the minimum is the reproducible cost.
    # N=3 since round 16 (VERDICT r15 item 2 — two cold runs could not
    # certify a 10% delta; the extra in-process run tightens the min
    # without changing the contract: same keys, same methodology, the
    # added "runs" field records N). Per-query fault isolation: one
    # broken query must never zero out the whole round's perf evidence
    # (round 3 lost its bench number to a single type error) — it gets
    # an "errors" entry instead.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    def run_set(names):
        timings: dict[str, float] = {}
        errors: dict[str, str] = {}
        for name in names:
            fn = OVERRIDES.get(name, QUERIES[name])
            best = float("inf")
            try:
                for _ in range(n_runs):
                    t0 = time.perf_counter()
                    materialize(fn(spark, sf_dir))
                    best = min(best, time.perf_counter() - t0)
                timings[name] = round(best, 3)
            except Exception as ex:  # noqa: BLE001 — keep benching the rest
                errors[name] = f"{type(ex).__name__}: {ex}"[:200]
        return timings, errors

    timings, errors = run_set(HEADLINE)
    v2_timings, v2_errors = run_set(HEADLINE_V2)

    record = {
        "metric": "headline_queries_total_wall",
        "value": None if errors else round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
        "runs": n_runs,
        "v2": {
            "metric": "headline_v2_plus5_total_wall",
            "value": None if v2_errors else round(sum(v2_timings.values()), 3),
            "unit": "sec",
            "queries": v2_timings,
        },
    }
    if errors:
        record["errors"] = errors
    if v2_errors:
        record["v2"]["errors"] = v2_errors
    print(json.dumps(record))
    spark.stop()
    return 1 if errors or v2_errors else 0


if __name__ == "__main__":
    sys.exit(main())
