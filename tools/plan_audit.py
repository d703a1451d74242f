"""Plan audit: dump scale-relevant physical-plan properties for every
registered query to PLANS.md.

The correctness gate proves the rows are right; this report shows HOW
each query executes — pushdown, pruning, join strategy, partial
aggregation, Python boundaries — the properties that decide whether
the same plan survives a 1000-executor / 100 TB deployment.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import gc
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elb_log_to_mysql_spark.plans.inspect import plan_report  # noqa: E402
from elb_log_to_mysql_spark.queries import QUERIES  # noqa: E402
from elb_log_to_mysql_spark.session import build_session  # noqa: E402

# Streaming queries execute via writeStream, not a collectable plan.
SKIP = {"stream_tumbling", "stream_sliding", "session_window", "stream_stateful"}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Scale factor: `{sf_dir}`. Columns: joins as B/S/H = broadcast/",
        "sort-merge/shuffled-hash counts, Exch = exchanges (shuffles),",
        "PartAgg = map-side partial aggregates, Py = Python eval nodes,",
        "Pushed = scans with pushed filters / total scans.",
        "",
        "Coverage note: the four PURE-STREAMING registry entries "
        "(`stream_tumbling`, `stream_sliding`, `session_window`, "
        "`stream_stateful`) have no row here by design — this auditor "
        "executes each plan as a batch noop write, which a streaming "
        "query cannot do. Their execution evidence lives in the "
        "STREAMING_r*.json artifacts (watermark/late-data behavior, "
        "state-store provider, all_passed) instead; every other "
        "registry entry is audited below, so rows + 4 = registry size.",
        "",
        "| query | joins B/S/H | Exch | PartAgg | Py | Pushed | AQE |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        if name in SKIP:
            continue
        # Each row starts from a clean cache: the previous result (and
        # the caches tied to its lifetime) is dropped and every cached
        # frame goes, so no row shows a frame an earlier entry cached.
        df = r = None
        gc.collect()
        spark.catalog.clearCache()
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        r = plan_report(df)
        scans = sum(1 for n in r["nodes"] if n == "Scan")
        pushed = sum(1 for p in r["pushed_filters"] if p.strip())
        lines.append(
            f"| {name} | {r['broadcast_joins']}/{r['sortmerge_joins']}/"
            f"{r['shuffled_hash_joins']} | {r['exchanges']} | "
            f"{r['partial_aggs']} | {r['python_evals']} | "
            f"{pushed}/{scans} | {'y' if r['aqe'] else 'n'} |"
        )
        print(lines[-1], flush=True)

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
