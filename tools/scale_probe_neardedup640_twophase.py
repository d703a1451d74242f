"""640x cell for near-dedup via the TWO-PHASE spill-friendly pipeline
(VERDICT r13 item 5; operators/dedup.py:near_dedup_minhash_two_phase).

Round 13 adjudicated the single-shot 640x as disk-bound: the
verification join's one shuffle transiently needs more than the box's
~77 GB free disk (SCALE.md round-13 refusal arithmetic). The two-phase
pipeline bounds the transient: phase 1 spills the raw candidate id
pairs (two longs + slice key, zstd) partitioned by pair-hash slice;
phase 2 verifies slice by slice, deleting each slice's spill and
nudging the ContextCleaner between jobs, so peak disk is
  candidate_spill + ONE slice's verification shuffle
instead of the whole verification shuffle at once.

Records wall + pairs + s/Mpair (vs the 320x single-shot anchor 2.05),
in-plan precision, the deterministic clone-pair floor, phase split,
and the peak disk usage of the work dir (sampled after each slice).

Run with SPARK_DRIVER_MEMORY=48g inside tmux (expect ~40-90 min).
Usage: python tools/scale_probe_neardedup640_twophase.py [factor]
       [out.json] [n_slices] [recover_max_bucket]

Round 15: pass recover_max_bucket > 1000 to route the skew-capped
buckets (the 147 whole clone clusters the r14 run lost, 30.06M pairs)
through the dedicated bounded recovery path — the floor_met gap
closes and the report records the recovery/dropped accounting.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from elb_log_to_mysql_spark.session import build_session  # noqa: E402
from tools.scale_sweep import replicate  # noqa: E402

SRC = "/root/testdata/sf0.1"
DOC_TABLES = {"documents"}


def dir_gb(path: str) -> float:
    try:
        out = subprocess.run(
            ["du", "-sb", path], capture_output=True, text=True, timeout=600
        ).stdout.split()[0]
        return round(int(out) / (1 << 30), 2)
    except Exception:
        return -1.0


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 640
    out_json = (
        sys.argv[2]
        if len(sys.argv) > 2
        else f"SCALE_PROBE_NEARDEDUP_{factor}x_twophase.json"
    )
    n_slices = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    recover_cap = int(sys.argv[4]) if len(sys.argv) > 4 else None

    spark = build_session(app_name=f"neardedup-2phase-{factor}x")
    spark.sparkContext.setLogLevel("ERROR")
    from elb_log_to_mysql_spark.operators import dedup

    src_dir = f"/tmp/scale_probe_docs_{factor}x"
    marker = os.path.join(src_dir, "documents.parquet")
    if not os.path.exists(marker):
        replicate(factor, src_dir, tables=DOC_TABLES)
    docs = spark.read.parquet(marker)
    n_base = spark.read.parquet(os.path.join(SRC, "documents.parquet")).count()

    work = f"/tmp/nd2p_{factor}x"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)

    t0 = time.perf_counter()
    found, stats = dedup.near_dedup_minhash_two_phase(
        docs, work, n_slices=n_slices, threshold=0.6,
        recover_max_bucket=recover_cap,
    )
    wall = round(time.perf_counter() - t0, 2)
    n_nd = stats["pairs"]
    min_j = found.agg(F.min("jaccard")).first()[0]
    clone_floor = n_base * math.comb(factor, 2)

    report = {
        "probe": "near_dedup_two_phase_execution",
        "factor": factor,
        "n_slices": n_slices,
        "recover_max_bucket": recover_cap,
        "recovered_buckets": stats["recovered_buckets"],
        "recovered_members": stats["recovered_members"],
        "dropped_buckets": stats["dropped_buckets"],
        "dropped_members": stats["dropped_members"],
        "dropped_max_bucket": stats["dropped_max_bucket"],
        "docs": docs.count(),
        "found_pairs": n_nd,
        "candidate_rows_predup": stats["candidate_rows"],
        "sec": wall,
        "min_emitted_jaccard": min_j,
        "precision_1": bool(min_j is not None and min_j >= 0.6),
        "clone_pair_floor": clone_floor,
        "floor_met": bool(n_nd >= clone_floor),
        "sec_per_mpair": round(wall / (n_nd / 1e6), 2) if n_nd else None,
        "anchor_320x_single_shot": {"sec": 575.61, "sec_per_mpair": 2.05},
        "workdir_final_gb": dir_gb(work),
    }
    with open(out_json, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
