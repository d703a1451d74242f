"""The corpus_dedup workload: the LLM-data cells over a seeded corpus.

A pass runs five cells in a fixed order — the exact n-gram Jaccard
join, MinHash near-dedup, LSH top-k, the corpus pipeline and the
streaming near-dedup audit — with bench.py's configs, so the two series
stay comparable. Each cell's result is collected to the driver, as a
user would read it; every result is small (at most a few hundred rows).

Correctness, checked outside the timed window:

- the warm-up pass collects every result. The three registry entries
  must equal their DuckDB oracle (``queries.ORACLE_SQL``) on the same
  files, as row count plus an order-insensitive fingerprint with
  floats rounded. The two approximate operators are checked against
  exact values computed here: near-dedup pairs must carry their exact
  Jaccard, reach the 0.6 threshold and recall at least 0.9 of the
  exact pairs; LSH hits must carry the exact cosine, ranked;
- every timed pass must reproduce the warm-up pass's fingerprints.
"""

from __future__ import annotations

import time
from statistics import median

from perfbench import gen_corpus
from perfbench.harness import Run, WrongResult, log, timed_loop
from perfbench.stats import fingerprint

# sf0.1 holds 5,000 documents and 2,000 vectors; at this size the cells
# are dominated by their fixed per-call costs and a pass takes ~16 s on
# 4 cores instead of ~25 s, which keeps a run near a minute
N_DOCS = 600
N_VECS = 1_000
# one ~16 s pass already outlasts --seconds; on a 4-vCPU host a second
# pass barely steadied wall_s across seeds (quartile spread 0.065 with
# two passes over ten seeds, 0.072 with one over five) and costs 16 s
MIN_PASSES = 1
NEAR_DEDUP_THRESHOLD = 0.6
RECALL_FLOOR = 0.9


def _cells(spark, sf_dir: str):
    """(name, fn) in pass order; each fn returns the lazy result."""
    from pyspark.sql import functions as F

    from elb_log_to_mysql_spark.operators import dedup, similarity
    from elb_log_to_mysql_spark.queries import QUERIES
    from elb_log_to_mysql_spark.sources.tables import load_table

    def near_dedup():
        return dedup.near_dedup_minhash(load_table(spark, sf_dir, "documents"))

    def similarity_topk_lsh():
        emb = load_table(spark, sf_dir, "embeddings")
        return similarity.similarity_topk_lsh(
            emb, emb.filter(F.col("vec_id") < 20), k=10, n_planes=3, n_tables=24
        )

    def registry(name):
        return lambda: QUERIES[name](spark, sf_dir)

    return [
        ("ngram_jaccard", registry("ngram_jaccard")),
        ("near_dedup", near_dedup),
        ("similarity_topk_lsh", similarity_topk_lsh),
        ("corpus_pipeline", registry("corpus_pipeline")),
        ("stream_near_dedup", registry("stream_near_dedup")),
    ]


ORACLE_CELLS = ("ngram_jaccard", "corpus_pipeline", "stream_near_dedup")


def _by_name(names: list[str], rows) -> list[tuple]:
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [tuple(row[i] for i in order) for row in rows]


def _oracle(sf_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    import duckdb

    from elb_log_to_mysql_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in ORACLE_CELLS:
            cur = con.execute(ORACLE_SQL[name])
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def _shingles(text: str) -> set[str]:
    t = text.lower().split()
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def exact_jaccard_pairs(docs: list[dict], threshold: float) -> dict[tuple, float]:
    """Exact trigram-Jaccard pairs >= threshold, by inverted index."""
    sh = {d["doc_id"]: _shingles(d["text"]) for d in docs}
    index: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(i)
    cand = {(a, b) for ids in index.values() for a in ids for b in ids if a < b}
    out = {}
    for a, b in cand:
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


def _check_near_dedup(run: Run, rows, names, exact: dict) -> None:
    r = [dict(zip(names, row)) for row in rows]
    found = {(x["doc_id_a"], x["doc_id_b"]): x["jaccard"] for x in r}
    wrong = [p for p, j in found.items() if p not in exact or abs(exact[p] - j) > 1e-9]
    recall = len(set(found) & set(exact)) / max(1, len(exact))
    run.check("near_dedup_pairs_exact", not wrong and len(found) == len(r), f"{wrong[:3]}")
    run.check("near_dedup_recall", recall >= RECALL_FLOOR, f"recall {recall:.3f}")


def _check_lsh(run: Run, rows, names, vecs: list[dict]) -> None:
    """Every (query_id, neighbor_id, rank, cos) row carries the exact
    cosine, and each query's ranks run 1..n (n <= k) by falling cos."""
    emb = {v["vec_id"]: v["embedding"] for v in vecs}
    per_q: dict = {}
    bad = 0
    for x in (dict(zip(names, row)) for row in rows):
        cos = sum(p * q for p, q in zip(emb[x["query_id"]], emb[x["neighbor_id"]]))
        bad += abs(cos - x["cos"]) > 1e-5
        per_q.setdefault(x["query_id"], []).append((x["rank"], x["cos"]))
    for hits in per_q.values():
        hits.sort()
        bad += [r for r, _ in hits] != list(range(1, len(hits) + 1)) or len(hits) > 10
        bad += any(a[1] < b[1] for a, b in zip(hits, hits[1:]))
    run.check("lsh_topk_exact_scores", bad == 0 and bool(per_q), f"{bad} bad of {len(rows)}")


def _run_cell(run: Run, name: str, fn) -> list:
    """One timed cell: the call (driver planning, eager probes) inside
    its own span, then the collect of its result."""
    with run.span(f"operators.{name}"):
        with run.span(f"operators.{name}.plan"):
            df = fn()
        return df.collect()


def _pass_loop(run: Run, cells, want_fp, seconds: float, min_ops: int):
    """Timed passes; a pass whose results differ from the checked
    warm-up results fails."""
    cell_s: dict[str, list[float]] = {n: [] for n, _ in cells}

    def op(i: int) -> None:
        with run.span("pass"):
            for name, fn in cells:
                t0 = time.perf_counter()
                rows = _run_cell(run, name, fn)
                cell_s[name].append(time.perf_counter() - t0)
                fp = fingerprint(tuple(r) for r in rows)
                if fp != want_fp[name]:
                    raise WrongResult(f"pass {i} {name}: fingerprint {fp}, expected {want_fp[name]}")

    return timed_loop(run, op, seconds, min_ops=min_ops), cell_s


def corpus_dedup(run: Run) -> dict:
    sf_dir = run.path("corpus", "")
    docs, vecs = gen_corpus.write_corpus(sf_dir, run.seed, N_DOCS, N_VECS)
    run.info["input"] = {"documents": N_DOCS, "embeddings": N_VECS}
    run.phase("generate")

    spark = run.build_session()
    run.phase("session")
    cells = _cells(spark, sf_dir)
    # warm-up pass: collect every result for the correctness checks
    got: dict[str, tuple[list[str], list]] = {}
    for name, fn in cells:
        run.attempted += 1
        try:
            df = fn()
            rows = df.collect()
        except Exception as ex:  # noqa: BLE001 — counted, recorded, run fails
            run.record_failure(f"warm-up {name}", ex)
            return {}
        got[name] = (df.columns, rows)
    run.phase("warm-up")
    _check_results(run, sf_dir, got, docs, vecs)
    # what every timed pass must reproduce
    want_fp = {name: fingerprint(tuple(r) for r in rows) for name, (_, rows) in got.items()}
    run.phase("check")
    walls, cell_s = _pass_loop(run, cells, want_fp, run.seconds, MIN_PASSES)
    run.phase("timed")
    if not run.correct:
        return {}
    run.info["samples"] = {"pass_s": walls, "cell_s": cell_s}
    log(f"cells: { {n: round(median(v), 3) for n, v in cell_s.items()} }")
    out = {
        "setup_s": run.setup_s,
        "wall_s": median(walls),
        "rows_per_s": N_DOCS / median(walls),
    }
    if run.trace:
        return _traced(run, sf_dir, want_fp, got, out["wall_s"])
    return out


def _check_results(run: Run, sf_dir: str, got: dict, docs, vecs) -> None:
    oracle = _oracle(sf_dir)
    for name in ORACLE_CELLS:
        cols, rows = got[name]
        ocols, orows = oracle[name]
        fp, ofp = fingerprint(_by_name(cols, rows)), fingerprint(_by_name(ocols, orows))
        run.check(f"{name}_matches_oracle", sorted(cols) == sorted(ocols) and fp == ofp,
                  f"{fp} vs {ofp}")
    exact = exact_jaccard_pairs(docs, NEAR_DEDUP_THRESHOLD)
    _check_near_dedup(run, got["near_dedup"][1], got["near_dedup"][0], exact)
    _check_lsh(run, got["similarity_topk_lsh"][1], got["similarity_topk_lsh"][0], vecs)
    run.info["result_rows"] = {n: len(r) for n, (_, r) in got.items()}


def _traced(run: Run, sf_dir: str, want_fp, got, untraced_wall: float) -> dict:
    from perfbench import eventlog, trace

    progress = trace.traced_session(run)
    cells = _cells(run.spark, sf_dir)
    for name, fn in cells:  # warm-up in the new session, not folded
        _run_cell(run, name, fn)
    since = time.time()
    walls, _ = _pass_loop(run, cells, want_fp, run.seconds / 2, 1)
    if run.failed:
        return {}
    tr = trace.fold(run, progress, since)
    run.phase("traced")

    out = {}
    for name, _ in cells:
        key = f"operators.{name}"
        out[f"{key}.wall_s"] = tr.median_wall(key)
        out[f"{key}.plan_s"] = tr.median_wall(f"{key}.plan")
        for m in ("executor_cpu_ms", "shuffle_write_bytes", "spill_bytes"):
            out[f"{key}.{m}"] = tr.median_total(key, m)
    ngram = tr.named("operators.ngram_jaccard")
    out["operators.ngram_jaccard.join_rows"] = median(
        [sum(eventlog.join_rows(x) for x in tr.sql_under(s)) for s in ngram])
    out["operators.ngram_jaccard.pairs_out"] = len(got["ngram_jaccard"][1])
    state = [
        [op for p in tr.progress_in(s) for op in p.get("stateOperators", ())]
        for s in tr.named("operators.stream_near_dedup")
    ]
    out["streaming.state_rows_updated"] = median([sum(o["numRowsUpdated"] for o in ops) for ops in state])
    out["streaming.state_commit_ms"] = median([sum(o["commitTimeMs"] for o in ops) for ops in state])
    out["streaming.state_memory_bytes"] = median(
        [max((o["memoryUsedBytes"] for o in ops), default=0) for ops in state])
    return trace.finish(run, out, tr, median(walls), untraced_wall)
