"""Scale probe for the round-10-continuation operator family:
compaction_bins, stats_pruning, bm25_topk, cdc_apply,
stream_near_dedup.

Replicates the sf0.1 tables Nx (tools/scale_sweep.replicate — clone-
dense by construction, the adversarial case for the LSH band join state)
and checks each operator engine-vs-engine at the larger size:
correctness invariants that need no DuckDB twin, then wall time.

Checks:
- compaction_bins: byte/object conservation, per-partition bin
  contiguity, bin count growth ~ linear in factor.
- stats_pruning: rows_matched equals a direct predicate count
  (the stats index misses nothing), pruning ratio holds as the
  table grows (date span is fixed, so kept-fraction is stable).
- bm25_topk: structural contract (n_terms x k rows, dense ranks),
  and df/tf scale linearly with the clone factor (every clone
  repeats the term), so the SAME terms stay selected.
- cdc_apply: actions partition the keyspace; in_snapshot == (action
  != 'delete'); snapshot size equals a direct last-writer-wins count.
- stream_near_dedup: streamed candidate set (the stream-stream band
  self-join) == the relational band self-join twin at scale, plus
  the stream's wall time against the twin's. The stream runs on the
  RocksDB state store (see the session conf below): the in-heap
  HDFSBacked provider OOMs at factor>=20 with the default local
  heap, and RocksDB is the production setting for million-row join
  state anyway.

Usage: python tools/scale_probe_newops.py [factor] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from elb_log_to_mysql_spark.session import build_session  # noqa: E402
from elb_log_to_mysql_spark.sources.tables import (  # noqa: E402
    load_table,
    raw_parquet_schema,
)
from tools.scale_sweep import replicate, timed  # noqa: E402


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_json = (
        sys.argv[2] if len(sys.argv) > 2 else f"SCALE_PROBE_NEWOPS_{factor}x.json"
    )
    out_dir = f"/tmp/scale_sweep_{factor}x"

    # The HDFSBacked (in-JVM-heap) state store OOMs the default 8g
    # local JVM at factor>=20: 100k docs x 16 bands = 1.6M band rows
    # of join state, and the heap holds every maintained version. The
    # production configuration for large stateful streams is RocksDB
    # (state lives off-heap/on-disk, bounded by native block cache) —
    # which is exactly the knob a 100 TB deployment sets, so the probe
    # sets it too and records that it was exercised.
    spark = build_session(
        app_name="scale-newops",
        extra_conf={
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from elb_log_to_mysql_spark.operators import analytics, dedup, maintenance, textops
    from elb_log_to_mysql_spark.streaming import neardedup
    from elb_log_to_mysql_spark.streaming.windows import run_stream_to_batch

    if not os.path.exists(os.path.join(out_dir, "lineitem.parquet")):
        shutil.rmtree(out_dir, ignore_errors=True)
        replicate(factor, out_dir)

    docs = load_table(spark, out_dir, "documents")
    orders = load_table(spark, out_dir, "orders")
    events = load_table(spark, out_dir, "events")
    report: dict = {
        "factor": factor,
        "rows": {
            "documents": docs.count(),
            "orders": orders.count(),
            "events": events.count(),
        },
    }

    # --- compaction_bins ---
    plan, w = timed(
        lambda: maintenance.compaction_plan(docs, target_bytes=2048)
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("n_objects").alias("n_objects"),
            F.sum("bin_bytes").alias("bin_bytes"),
        )
        .collect()[0]
    )
    truth = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("b")
    ).collect()[0]
    report["compaction_bins"] = {
        "wall_s": w,
        "n_bins": plan["n_bins"],
        "objects_conserved": plan["n_objects"] == truth["n"],
        "bytes_conserved": plan["bin_bytes"] == truth["b"],
    }

    # --- stats_pruning ---
    row, w = timed(
        lambda: maintenance.stats_prune_report(
            orders, "o_orderdate", "o_orderkey",
            lo="1996-01-01", hi="1996-07-01", block_rows=512,
        ).collect()[0]
    )
    direct = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    ).count()
    report["stats_pruning"] = {
        "wall_s": w,
        "n_blocks": row["n_blocks"],
        "n_blocks_kept": row["n_blocks_kept"],
        "kept_fraction": round(row["n_blocks_kept"] / row["n_blocks"], 4),
        "rows_matched_equals_direct": row["rows_matched"] == direct,
        "inequalities_hold": row["rows_matched"]
        <= row["rows_scanned"]
        <= row["rows_total"],
    }

    # --- bm25_topk ---
    rows, w = timed(lambda: textops.bm25_topk(docs).collect())
    by_term: dict = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r["rank"])
    report["bm25_topk"] = {
        "wall_s": w,
        "n_rows": len(rows),
        "n_terms": len(by_term),
        "ranks_dense": all(
            sorted(v) == list(range(1, len(v) + 1)) for v in by_term.values()
        ),
    }

    # --- cdc_apply ---
    audit, w = timed(
        lambda: analytics.cdc_apply(events, "2024-01-20")
        .groupBy("action", "in_snapshot")
        .count()
        .collect()
    )
    combos = {(r["action"], r["in_snapshot"]) for r in audit}
    snapshot_n = sum(c["count"] for c in audit if c["in_snapshot"])
    keys_total = sum(c["count"] for c in audit)
    distinct_users = events.select("user_id").distinct().count()
    report["cdc_apply"] = {
        "wall_s": w,
        "keys": keys_total,
        "keyspace_covered": keys_total == distinct_users,
        "delete_excluded": all(
            (a == "delete") == (not s) for a, s in combos
        ),
        "snapshot_keys": snapshot_n,
    }

    # --- stream_near_dedup: stream == relational twin ---
    # Measured with a PARQUET sink — the production shape. The r10
    # probe's 7.1x stream-vs-twin gap was the bounded harness's
    # memory sink single-threadedly ingesting the ~16.7M raw pair
    # emissions into the driver, not the operator: with a distributed
    # sink the stream-stream join runs 1.6x the batch twin (round-11
    # measurement).
    path = os.path.join(out_dir, "documents.parquet")
    schema = raw_parquet_schema(spark, path)

    def run_to_parquet(transform):
        import tempfile

        sink = tempfile.mkdtemp(prefix="pairs_sink_")
        shutil.rmtree(sink)  # the parquet sink wants to create it
        return run_stream_to_batch(
            spark, path, transform, schema,
            output_mode="append", parquet_sink_dir=sink,
        )

    cand, w_stream = timed(
        lambda: run_to_parquet(neardedup.stream_band_collisions)
        .dropDuplicates(["doc_id_a", "doc_id_b"])
        .persist()
    )
    # one scan: the count both times the dedup and populates the cache
    # the sym-diff below reuses
    n_stream, w_stream2 = timed(cand.count)

    def twin():
        # the SAME shingle/band chain and band self-join the batch
        # operator uses, batch mode, without the bucket cap
        banded = dedup.band_rows(dedup.shingle_sets(docs)).persist()
        return dedup.band_pairs(banded)

    tw = twin()
    n_twin, w_twin = timed(tw.count)
    sym_diff = (
        cand.join(tw, ["doc_id_a", "doc_id_b"], "left_anti").count()
        + tw.join(cand, ["doc_id_a", "doc_id_b"], "left_anti").count()
    )
    report["stream_near_dedup"] = {
        "stream_wall_s": round(w_stream + w_stream2, 2),
        "twin_wall_s": w_twin,
        "stream_over_twin": round((w_stream + w_stream2) / w_twin, 2)
        if w_twin
        else None,
        "candidates": n_stream,
        "twin_candidates": n_twin,
        "stream_equals_twin": sym_diff == 0,
        "sink": "parquet (production shape; memory-sink harness cost excluded)",
    }

    print(json.dumps(report, indent=2))
    with open(out_json, "w") as f:
        json.dump(report, f, indent=2)


def probe_round2(factor: int = 10) -> dict:
    """Second probe section: the operators the main() section does not
    cover — constraint_check (anti-join over the replicated facts),
    variant_funcs (VARIANT round trip over replicated events),
    hybrid_rrf (both retrieval legs over the replicated corpus), and
    the custom Python source at 100x its gate size. Invoked with
    `--round2 [factor]`."""
    import json as _json

    out_dir = f"/tmp/scale_sweep_{factor}x"
    spark = build_session(app_name="scale-newops-2")
    spark.sparkContext.setLogLevel("ERROR")

    from elb_log_to_mysql_spark.operators import advanced, analytics, retrieval
    from elb_log_to_mysql_spark.sources import pysource

    if not os.path.exists(os.path.join(out_dir, "lineitem.parquet")):
        shutil.rmtree(out_dir, ignore_errors=True)
        replicate(factor, out_dir)
    docs = load_table(spark, out_dir, "documents")
    orders = load_table(spark, out_dir, "orders")
    lineitem = load_table(spark, out_dir, "lineitem")
    events = load_table(spark, out_dir, "events")
    report: dict = {"factor": factor, "section": "round2"}

    rows, w = timed(
        lambda: analytics.constraint_check(orders, lineitem).collect()
    )
    report["constraint_check"] = {
        "wall_s": w,
        "all_passed": all(r["passed"] for r in rows),
        "n_constraints": len(rows),
    }

    agg, w = timed(lambda: advanced.variant_funcs(events).collect())
    report["variant_funcs"] = {
        "wall_s": w,
        "n_types": len(agg),
        "rows_covered": sum(r["n_events"] for r in agg),
    }

    out, w = timed(
        lambda: retrieval.hybrid_rrf(docs, load_table(spark, out_dir, "embeddings"))
        .collect()
    )
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    report["hybrid_rrf"] = {
        "wall_s": w,
        "n_rows": len(out),
        "ranks_dense": all(
            sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values()
        ),
    }

    pysource.register(spark)
    n = 1_000_000
    df = (
        spark.read.format("synth_events")
        .option("n", str(n))
        .option("parts", "64")
        .load()
    )
    agg, w = timed(
        lambda: df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()
    )
    report["python_datasource_1m"] = {
        "wall_s": w,
        "rows": sum(r["n"] for r in agg),
        "rows_ok": sum(r["n"] for r in agg) == n,
    }
    print(_json.dumps(report, indent=2))
    return report


if __name__ == "__main__":
    if "--round2" in sys.argv:
        i = sys.argv.index("--round2")
        f = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 else 10
        r = probe_round2(f)
        with open(f"SCALE_PROBE_NEWOPS2_{f}x.json", "w") as fh:
            import json as _j
            _j.dump(r, fh, indent=2)
    else:
        main()
