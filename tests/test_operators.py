"""Operator-level semantic tests (beyond the oracle compare harness).

The DuckDB oracle compare (tools/compare_oracle.py, and the driver's
own gate) covers value parity; these tests pin down operator-specific
invariants: dedup survivor determinism, LSH recall vs brute force,
simhash/minhash sanity, streaming-vs-batch window equivalence, sink
round-trips.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from elb_log_to_mysql_spark.operators import dedup, relational, similarity
from elb_log_to_mysql_spark.sources.tables import load_table


def test_exact_dedup_deterministic_survivor(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out1 = dedup.exact_dedup(ev, ["user_id", "event_type"], ["ts", "event_id"])
    out2 = dedup.exact_dedup(
        ev.repartition(13), ["user_id", "event_type"], ["ts", "event_id"]
    )
    a = {tuple(r) for r in out1.select("user_id", "event_type", "event_id").collect()}
    b = {tuple(r) for r in out2.select("user_id", "event_type", "event_id").collect()}
    assert a == b  # survivor independent of physical partitioning


def test_minhash_approximates_exact_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    approx = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.near_dedup_minhash(docs, threshold=0.7).collect()
    }
    # MinHash verifies candidates with EXACT jaccard, so no false
    # positives; recall depends on LSH banding catching the pair.
    assert approx <= exact
    if exact:
        assert len(approx) / len(exact) >= 0.8


def test_simhash_pairs_are_actually_similar(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    if not pairs:
        return
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for r in pairs[:10]:
        ta = set(texts[r.doc_id_a].split())
        tb = set(texts[r.doc_id_b].split())
        jac = len(ta & tb) / len(ta | tb)
        assert jac > 0.3, (r.doc_id_a, r.doc_id_b, jac)


def test_prefix_filtered_jaccard_equals_inverted_index(spark, sf_dir):
    """Prefix filtering must be LOSSLESS: the AllPairs candidate rule
    (rarest |d|-ceil(t|d|)+1 shingles under a global frequency order)
    plus exact verification has to reproduce the inverted-index
    formulation's pair set and jaccard values bit-for-bit, at two
    thresholds (boundary behavior differs at t where prefixes shrink)."""
    docs = load_table(spark, sf_dir, "documents")
    for t in (0.5, 0.8):
        base = {
            (r.doc_id_a, r.doc_id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pref = {
            (r.doc_id_a, r.doc_id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs_prefix(docs, threshold=t).collect()
        }
        assert pref == base, f"threshold {t}"


def test_substring_dup_spans_islands_gaps_and_df_cap(spark):
    """Handcrafted corpus pinning substring_dup_spans' three tricky
    behaviors (k=3, min_len=5, max_df=3):

    - maximal-span arithmetic: a 6-token shared run = 4 overlapping
      3-windows -> span_tokens 4 + (3-1) = 6, with the right starts;
    - islands-and-gaps merge: two shared runs on the SAME diagonal
      separated by one differing token must stay TWO spans (6 and 5),
      never bridge into one of 12;
    - the df cap: a 6-token boilerplate block shared by 5 docs has
      every gram at df=5 > max_df=3, so those docs report NO span
      even though they share >= min_len tokens;
    - min_len: a 4-token shared run (span 4 < 5) is excluded."""
    run = "s1 s2 s3 s4 s5 s6"
    rows = [
        (0, f"x1 x2 {run} x3"),           # run at positions 2..7
        (1, f"{run} y1 y2"),              # run at positions 0..5
        (2, "p1 p2 p3 p4 p5 q g1 r1 r2 r3 r4 r5"),
        (3, "p1 p2 p3 p4 p5 q g2 r1 r2 r3 r4 r5"),
        (4, "t1 t2 t3 t4 u1"),            # 4-token run: below min_len
        (5, "t1 t2 t3 t4 u2"),
    ] + [(6 + i, f"b1 b2 b3 b4 b5 b6 f{i}") for i in range(5)]  # df=5 grams
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_id_a, r.doc_id_b, r.start_a, r.start_b): r.span_tokens
        for r in dedup.substring_dup_spans(
            docs, k=3, min_len=5, max_df=3
        ).collect()
    }
    assert out == {
        (0, 1, 2, 0): 6,
        (2, 3, 0, 0): 6,
        (2, 3, 7, 7): 5,
    }


def test_winnowing_guarantee_and_density(spark):
    """The winnowing theorem (Schleimer et al. 2003): two documents
    sharing a token run of length >= w + k - 1 MUST share at least
    one fingerprint — checked over many random clone-pair corpora —
    and each window contributes exactly one pick, so a doc's distinct
    fingerprints never exceed its window count."""
    import random

    from elb_log_to_mysql_spark.operators.textops import winnow_fingerprints

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for pair in range(10):
        shared = " ".join(rng.choice(vocab) for _ in range(8))  # >= w+k-1=8
        pre = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 6)))
        post = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 6)))
        # join non-empty parts: textops' tokenizer (like its SQL
        # twins) splits on single spaces and KEEPS empty tokens, so a
        # double space from an empty pre/post would shift positions
        rows.append((2 * pair, " ".join(p for p in (pre, shared, post) if p)))
        rows.append(
            (2 * pair + 1, " ".join(p for p in (shared, post, "extra") if p))
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(docs, k=4, w=5).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    for pair in range(10):
        a, b = by_doc.get(2 * pair, set()), by_doc.get(2 * pair + 1, set())
        assert a & b, f"pair {pair} shares an 8-token run but no fingerprint"
    # density bound: picks per doc <= windows per doc
    for doc_id, text in rows:
        n_tokens = len(text.split())
        n_windows = max(n_tokens - 3 - 4, 0)  # grams - (w-1)
        assert len(by_doc.get(doc_id, set())) <= max(n_windows, 0) or n_windows == 0


def test_substring_dedup_apply_cuts_victim_side_only(spark):
    """Apply semantics (k=3, min_len=4): the LATER doc loses each
    covered token range, the earlier doc keeps its occurrence,
    overlapping spans union (a token covered by any span is cut), and
    span-free docs pass through verbatim (modulo whitespace collapse
    and lowercasing, the ws_tokens contract)."""
    run1 = "s1 s2 s3 s4 s5"          # shared 0..4 in docs 0/1
    rows = [
        (0, f"{run1} x1 x2"),
        (1, f"{run1} y1 y2 s3 s4 s5 s6"),  # second span 7..10 w/ doc 2
        (2, "s3 s4 s5 s6 z1"),
        (3, "lone document with nothing shared"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedup.substring_dup_spans(docs, k=3, min_len=4, max_df=10)
    got = {
        r.doc_id: (r.n_tokens_before, r.n_tokens_after, r.clean_text)
        for r in dedup.substring_dedup_apply(
            docs, spans=spans, k=3, min_len=4, max_df=10
        ).collect()
    }
    # doc 0: earliest everywhere -> untouched
    assert got[0] == (7, 7, "s1 s2 s3 s4 s5 x1 x2")
    # doc 1: loses 0..4 (vs doc 0) AND 7..10 (vs... doc 1 is EARLIER
    # than doc 2, so it KEEPS s3 s4 s5 s6; only the run1 span cuts)
    assert got[1] == (11, 6, "y1 y2 s3 s4 s5 s6")
    # doc 2: later than doc 1 -> loses its s3 s4 s5 s6
    assert got[2] == (5, 1, "z1")
    # doc 3: passthrough
    assert got[3] == (5, 5, "lone document with nothing shared")
    """The density-derived bucket cap (max(300, 50 x max fingerprint
    multiplicity)) must recover the pairs a constant cap starves: a
    clone cluster of 320 identical docs fills every bucket it touches
    with >300 rows, so max_bucket=300 evicts ALL of them (recall 0 on
    the cluster), while the derived default keeps the full C(320,2)
    pair set."""
    n = 320
    rows = [(i, "the same cloned document body repeated verbatim") for i in range(n)]
    rows += [(n + i, f"unique filler document number {i} talks about topic {i}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    starved = dedup.simhash_near_pairs(docs, max_hamming=3, max_bucket=300)
    clone_pairs_starved = starved.filter(
        (F.col("doc_id_a") < n) & (F.col("doc_id_b") < n)
    ).count()
    assert clone_pairs_starved == 0  # the round-6 starvation mode

    derived = dedup.simhash_near_pairs(docs, max_hamming=3)  # cap derived
    clone_pairs = derived.filter(
        (F.col("doc_id_a") < n) & (F.col("doc_id_b") < n)
    ).count()
    assert clone_pairs == n * (n - 1) // 2


def test_simhash_blocking_complete_beyond_hamming_3(spark, sf_dir):
    """Candidate blocking must be COMPLETE for the requested hamming
    radius: with the fixed 4-way (16-bit) split, a pair at distance
    4-6 can differ in every quarter and silently vanish. The block
    count now derives from max_hamming (8 blocks for <=6), so the
    blocked result must equal the brute-force all-pairs answer."""
    docs = load_table(spark, sf_dir, "documents")
    fps = dedup.simhash_fingerprints(docs).collect()

    def ham(a: int, b: int) -> int:
        # fps are signed 64-bit longs; mask so Python's infinite
        # two's-complement XOR can't yield a negative popcount input
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    brute = {
        (min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id)): ham(a.fp, b.fp)
        for i, a in enumerate(fps)
        for b in fps[i + 1 :]
        if ham(a.fp, b.fp) <= 6
    }
    blocked = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in dedup.simhash_near_pairs(docs, max_hamming=6).collect()
    }
    assert blocked == brute


def test_simhash_emits_each_pair_once(spark, sf_dir):
    """A clone pair collides on EVERY candidate key; the post-verify
    dedup must keep exactly one copy."""
    docs = load_table(spark, sf_dir, "documents")
    rows = dedup.simhash_near_pairs(docs, max_hamming=6).collect()
    pairs = [(r.doc_id_a, r.doc_id_b) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_simhash_cap_cannot_strand_partially_capped_pairs(spark):
    """Verification runs BEFORE pair dedup, so a pair whose equal keys
    are only PARTLY capped must still surface through any kept bucket
    (the first-match formulation lost 2/3 of true pairs at 10× for
    exactly this reason). With a cap that only the densest bucket
    exceeds, the clone clique must survive intact."""
    # 30 clones + unrelated docs: every clone-pair key bucket holds 30
    # docs; cap 40 keeps them all. Sanity-check both cap regimes.
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(30)]
        + [(100 + i, f"unrelated text number {i} with different words entirely")
           for i in range(5)],
        ["doc_id", "text"],
    )
    kept = dedup.simhash_near_pairs(docs, max_hamming=6, max_bucket=40).collect()
    clone_pairs = {
        (a, b) for (a, b) in [(r.doc_id_a, r.doc_id_b) for r in kept]
        if a < 30 and b < 30
    }
    assert len(clone_pairs) == 30 * 29 // 2


def test_simhash_max_bucket_caps_degenerate_buckets(spark):
    """With a cap of 1, every 2+-doc bucket is dropped: a clone
    cluster (all blocks over-full) must produce zero pairs, while the
    default cap keeps the full clique."""
    docs = spark.createDataFrame(
        [(i, "the same exact cloned document text repeated here") for i in range(5)]
        + [(100, "an entirely different unrelated piece of writing")],
        ["doc_id", "text"],
    )
    full = dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    assert len(full) == 10  # 5-clone clique
    capped = dedup.simhash_near_pairs(docs, max_hamming=3, max_bucket=1).collect()
    assert capped == []


def test_simhash_density_cache_invalidated_by_overwrite(spark, tmp_path):
    """The memoized density factor's key folds each input file's
    mtime_ns: an IN-PLACE overwrite that keeps the same file names
    (non-Spark writers, fixed-name generators) must NOT serve the old
    corpus's stale factor — it would silently change the derived
    max_bucket cap and thus the emitted near-pair set."""
    import os
    import time

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "all clones share this text") for i in range(8)],
        ["doc_id", "text"],
    ).toPandas().to_parquet(path)

    def factor_for(p):
        dedup._SIMHASH_DENSITY_CACHE.clear()
        docs = spark.read.parquet(p)
        dedup.simhash_candidates(docs)
        (key,) = dedup._SIMHASH_DENSITY_CACHE.keys()
        return key, dedup._SIMHASH_DENSITY_CACHE[key]

    key1, f1 = factor_for(path)
    assert f1 == 8  # 8 identical fingerprints
    # in-place overwrite, same file name, different density
    time.sleep(0.01)
    spark.createDataFrame(
        [(i, f"distinct text number {i} here") for i in range(8)],
        ["doc_id", "text"],
    ).toPandas().to_parquet(path)
    os.utime(path)  # belt and braces: force a fresh mtime
    dedup._SIMHASH_DENSITY_CACHE.clear()
    dedup._SIMHASH_DENSITY_CACHE[key1] = f1  # simulate stale entry
    docs2 = spark.read.parquet(path)
    dedup.simhash_candidates(docs2)
    new_keys = set(dedup._SIMHASH_DENSITY_CACHE) - {key1}
    assert new_keys, "overwrite must produce a DIFFERENT cache key"
    dedup._SIMHASH_DENSITY_CACHE.clear()


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_lsh(emb, q, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_ivf(emb, q, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_embedding_near_dup_matches_bruteforce_scores(spark, sf_dir):
    """Every emitted pair must actually have cosine >= threshold when
    recomputed, and the pair set must be symmetric-free (id_a < id_b)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup(emb, threshold=0.40).collect()
    assert pairs, "threshold 0.40 should produce pairs at sf0.001+"
    assert all(r.id_a < r.id_b for r in pairs)
    by_id = {r.vec_id: r.embedding for r in emb.collect()}
    import math

    for r in pairs:
        a, b = by_id[r.id_a], by_id[r.id_b]
        dot = sum(x * y for x, y in zip(a, b))
        cos = dot / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))
        assert cos >= 0.40 - 1e-9, (r.id_a, r.id_b, cos)


def test_embedding_near_dup_lsh_recall_vs_exact(spark, sf_dir):
    """The LSH candidate path must recover (nearly) all exact pairs:
    2 planes x 16 tables gives a >=0.98 per-pair collision floor at
    cos 0.45, and empirically total recall on the test corpora. Also
    check precision = 1 (rerank is exact, so no false pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup(emb, threshold=0.45).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup(
            emb, threshold=0.45, method="lsh"
        ).collect()
    }
    assert exact, "threshold 0.45 should produce pairs on test corpora"
    assert approx <= exact, f"false pairs: {approx - exact}"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"LSH near-dup recall too low: {recall}"


def test_embedding_near_dup_lsh_plan_is_bucketed_equijoin(spark, sf_dir):
    """The scale path must candidate-generate via an equi-join on
    (table_idx, bucket) — never a theta all-pairs join."""
    emb = load_table(spark, sf_dir, "embeddings")
    plan = similarity.embedding_near_dup(
        emb, threshold=0.45, method="lsh"
    )._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_query_path_has_no_inline_training(spark, sf_dir):
    """With precomputed centroids the IVF search must be pure plan
    construction — building the DataFrame triggers no Spark job."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = similarity.train_ivf_centroids(emb)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = similarity.similarity_topk_ivf(
        emb, emb.filter(F.col("vec_id") < 10), k=5, centroids=centroids
    )
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "plan construction ran Spark jobs"
    assert df.count() > 0


def test_broadcast_join_uses_broadcast(spark, sf_dir):
    plan = relational.broadcast_dim_join(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_filter_project_pushdown(spark, sf_dir):
    plan = relational.filter_project(
        load_table(spark, sf_dir, "lineitem")
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    # column pruning: scan must not read all 11 lineitem columns
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_returnflag" not in read_schema


def test_streaming_matches_batch_windows(spark, sf_dir):
    import os

    from elb_log_to_mysql_spark.streaming.windows import (
        run_stream_to_batch,
        tumbling_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    from elb_log_to_mysql_spark.sources.tables import raw_parquet_schema

    raw_schema = raw_parquet_schema(spark, os.path.join(sf_dir, "events.parquet"))

    def transform(stream):
        from elb_log_to_mysql_spark.streaming.windows import ensure_event_time

        return tumbling_counts(ensure_event_time(stream))

    streamed = run_stream_to_batch(
        spark, os.path.join(sf_dir, "events.parquet"), transform, raw_schema
    ).select("window_start", "event_type", "n_events")
    assert {tuple(r) for r in streamed.collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_multimodal_frame_sampling_fanout(spark):
    from elb_log_to_mysql_spark.operators import multimodal

    media = spark.createDataFrame(
        [(1, b"0123456789abcdef"), (2, b"xy"), (3, b"q")],
        "doc_id long, payload binary",
    )
    frames = multimodal.sample_frames(media, n_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 16 bytes -> 4 frames of 4; 2 bytes -> 2 frames of 1; 1 byte -> 1 frame
    assert [len(by_doc[d]) for d in (1, 2, 3)] == [4, 2, 1]
    assert all(r.frame_len == 4 for r in by_doc[1])
    assert b"".join(r.frame_bytes for r in sorted(by_doc[1], key=lambda r: r.frame_idx)) == b"0123456789abcdef"


def test_multimodal_features_unit_norm(spark):
    import math

    from elb_log_to_mysql_spark.operators import multimodal

    media = spark.createDataFrame(
        [(1, b"hello world"), (2, b"\x00\x01\x02")], "doc_id long, payload binary"
    )
    feats = {r.doc_id: r.feature for r in multimodal.extract_features(media, dim=8).collect()}
    for v in feats.values():
        assert len(v) == 8
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5


def test_salted_agg_equals_plain_agg_any_config(spark, sf_dir):
    """Two-stage salted aggregation is bit-identical to the plain
    groupBy at any salt count and input partitioning (exact-decimal
    partials are associative)."""
    from elb_log_to_mysql_spark.functions.numeric import dsum
    from elb_log_to_mysql_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r.l_suppkey: (r.value_sum, r.n_rows)
        for r in li.groupBy("l_suppkey")
        .agg(
            dsum("l_extendedprice").alias("value_sum"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    }
    for n_salts, parts in [(4, 3), (64, 17)]:
        salted = {
            r.l_suppkey: (r.value_sum, r.n_rows)
            for r in salted_agg(
                li.repartition(parts), "l_suppkey", "l_extendedprice", n_salts
            ).collect()
        }
        assert salted == plain, (n_salts, parts)


def test_sketch_rollup_accuracy_vs_exact(spark, sf_dir):
    """The sketch-union estimate must land within HLL error bounds of
    the exact per-region distinct count (and the union must actually
    deduplicate across nations — summing per-nation distincts would
    overcount shared parts by ~25x here)."""
    from pyspark.sql import functions as F

    from elb_log_to_mysql_spark.operators.advanced import sketch_rollup

    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re_ = load_table(spark, sf_dir, "region")
    got = {r.r_name: r.approx_parts for r in sketch_rollup(li, su, na, re_).collect()}
    exact = {
        r.r_name: r.exact
        for r in li.join(su, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(na, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(re_, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.countDistinct("l_partkey").alias("exact"))
        .collect()
    }
    assert set(got) == set(exact)
    for region, est in got.items():
        assert abs(est - exact[region]) <= max(0.05 * exact[region], 2), (
            region, est, exact[region],
        )


def test_quality_filter_rules_fire_individually(spark):
    """Each Gopher rule must be the one that kills its crafted
    document, and a clean document must pass every rule."""
    from elb_log_to_mysql_spark.operators import textops

    good = (
        "the quick brown fox jumps over a lazy dog and then runs into town "
        "with great joy for every small reason that nature gives freely in "
        "morning light while birds are singing songs of spring"
    )
    texts = [
        (1, good),
        (2, "word"),                               # too few words
        (3, "a " * 50),                            # mean word len < 2
        (4, "1 2 3 4 5 6 7 8 9 10 " * 3),          # no alphabetic words
        (5, ("the cat sat on a mat " + "# " * 30)),  # symbol ratio
        (6, "purple monkey dishwasher banana xylophone quartz " * 4),  # no stopwords
        (7, "the dog and the dog and the dog and the dog and the dog and " * 8),  # repetition
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", len(t)) for i, t in texts],
        "doc_id long, text string, lang string, n_chars long",
    )
    rows = {r.doc_id: r for r in textops.quality_filter(docs).collect()}
    assert rows[1].keep, rows[1]
    assert not rows[2].word_count_ok and not rows[2].keep
    assert not rows[3].word_len_ok and not rows[3].keep
    assert not rows[4].alpha_ok and not rows[4].keep
    assert not rows[5].symbol_ok and not rows[5].keep
    assert not rows[6].stopword_ok and not rows[6].keep
    assert not rows[7].repetition_ok and not rows[7].keep


def test_decode_media_real_parses_actual_containers(spark):
    """The real decoder must read header fields out of genuine WAV/BMP
    bytes (stdlib wave / BITMAPINFOHEADER), and absorb malformed
    payloads as kind='unknown' instead of failing the task."""
    from elb_log_to_mysql_spark.operators import multimodal as mm

    rows = [
        (1, mm.make_wav_bytes(sample_rate=44100, n_channels=2, n_frames=777)),
        (2, mm.make_bmp_bytes(width=31, height=7)),
        (3, b"RIFF\x00\x00\x00\x00WAVEgarbage-not-a-wav"),
        (4, b"plain text, no container at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in mm.decode_media_real(df).collect()}
    assert (got[1].kind, got[1].sample_rate, got[1].n_channels,
            got[1].n_frames) == ("wav", 44100, 2, 777)
    assert (got[2].kind, got[2].width, got[2].height) == ("bmp", 31, 7)
    assert got[3].kind == "unknown"
    assert got[4].kind == "unknown"


def test_resize_images_real_resamples_actual_pixels(spark):
    """Real resize must carry PIXEL CONTENT, not just header geometry:
    a half-black/half-white image downscaled 2x keeps its halves, and
    the re-encoded output must parse with the real decoder."""
    import numpy as np

    from elb_log_to_mysql_spark.operators import multimodal as mm

    arr = np.zeros((8, 16, 3), dtype=np.uint8)
    arr[:, 8:] = 255  # left half black, right half white
    payload = mm._bmp_encode_pixels(arr)
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    r = mm.resize_images_real(df, max_side=8).collect()[0]
    assert (r.out_width, r.out_height, r.redecodes) == (8, 4, True)
    # pure-python re-check of the emitted geometry + content
    out = mm._bmp_decode_pixels(
        mm._bmp_encode_pixels(
            mm._bmp_decode_pixels(payload)[
                (np.arange(4) * 8) // 4
            ][:, (np.arange(8) * 16) // 8]
        )
    )
    assert out.shape == (4, 8, 3)
    assert (out[:, :4] == 0).all() and (out[:, 4:] == 255).all()
    # corrupt payload -> absorbed, not failed
    bad = spark.createDataFrame([(2, b"not a bmp")], "doc_id long, payload binary")
    rb = mm.resize_images_real(bad).collect()[0]
    assert rb.redecodes is False and rb.out_width is None


def test_incremental_dedup_verdicts(spark):
    """New-batch vs existing-corpus dedup: exact clone -> exact_dup
    (and near_dup, trivially), paraphrase sharing most shingles ->
    near_dup only, novel doc -> keep."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(1, base), (2, "completely different existing content here")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, base),  # exact clone (whitespace-normalized)
            (11, base + " tonight"),  # near-dup: shares most shingles
            (12, "entirely novel words nobody wrote before today"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in dedup.incremental_dedup(new, existing).collect()}
    assert got[10].exact_dup and not got[10].keep
    assert got[11].near_dup and not got[11].exact_dup and not got[11].keep
    assert got[12].keep and not got[12].exact_dup and not got[12].near_dup


def test_audio_features_real_decodes_pcm_samples(spark):
    """Sample-level audio features from real PCM bytes: a constant
    amplitude A gives peak=rms=A over frames*channels samples; a
    non-constant signal gives the true peak; garbage is absorbed."""
    from elb_log_to_mysql_spark.operators import multimodal as mm

    rows = [
        (1, mm.make_wav_bytes(8000, n_channels=2, n_frames=10, amplitude=37)),
        (2, mm.make_wav_bytes(8000, n_channels=1, n_frames=4, amplitude=0)),
        (3, b"definitely not audio"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in mm.audio_features_real(df).collect()}
    assert (got[1].n_samples, got[1].peak, got[1].rms) == (20, 37, 37)
    assert (got[2].n_samples, got[2].peak, got[2].rms) == (4, 0, 0)
    assert got[3].n_samples is None


def test_fuzzy_name_pairs_blocked_join_finds_known_neighbors(spark):
    from pyspark.sql import functions as F

    from elb_log_to_mysql_spark.operators import textops

    df = spark.createDataFrame(
        [("red widget",), ("ted widget",), ("blue widget",), ("red bolt",)],
        "p_name string",
    )
    out = textops.fuzzy_name_pairs(df, "p_name", max_dist=1).collect()
    pairs = {(r["name_a"], r["name_b"]) for r in out}
    # distance-1 pair inside the 'widget' block
    assert ("red widget", "ted widget") in pairs
    # cross-block pair is never considered, whatever its distance
    assert all("bolt" not in a or "bolt" in b for a, b in pairs)
    assert all(r["dist"] <= 1 for r in out)


def test_png_codec_all_filter_types_roundtrip(spark):
    """Every PNG scanline filter (none/sub/up/average/paeth) must
    survive encode->inflate->unfilter exactly; heights >= 5 force all
    five types through the cycling encoder."""
    from elb_log_to_mysql_spark.operators.multimodal import (
        make_png_bytes,
        png_decode_pixels,
    )

    for base in (0, 13, 250):  # 250 exercises the % 256 wrap
        for w, h in ((1, 5), (7, 9), (16, 8)):
            payload = make_png_bytes(w, h, base)
            W, H, psum, n = png_decode_pixels(payload)
            want = sum(((base + r) % 256) for r in range(h)) * w * 3
            assert (W, H, n) == (w, h, w * h * 3)
            assert psum == want


def test_jpeg_real_guarded(spark):
    """JPEG is the one codec that genuinely needs an external library
    (entropy-coded DCT); the path is GUARDED, not stubbed-and-claimed.
    With Pillow absent (this sandbox) the plan-time ImportError is the
    contract; with Pillow present the same real-bytes evidence pattern
    as PNG applies: a generated solid-fill JPEG must decode to its
    own dimensions with mean within JPEG-quantization distance of the
    fill value."""
    import pytest as _pt

    from elb_log_to_mysql_spark.operators.multimodal import (
        decode_jpeg_media,
        have_pil,
        make_jpeg_bytes,
    )

    if not have_pil():
        with _pt.raises(ImportError):
            make_jpeg_bytes(8, 8)
        with _pt.raises(ImportError):
            decode_jpeg_media(spark.range(0).selectExpr(
                "id AS doc_id", "CAST(NULL AS BINARY) AS payload"))
        return  # guard contract asserted above — that IS this env's behavior

    rows = [(i, bytearray(make_jpeg_bytes(8 + i, 6 + i, fill=64 + 8 * i)))
            for i in range(4)]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in decode_jpeg_media(media).collect()}
    for i in range(4):
        r = out[i]
        assert (r.width, r.height) == (8 + i, 6 + i)
        assert abs(r.mean_pixel - (64 + 8 * i)) < 2.0


def test_png_decode_rejects_non_png(spark):
    import pytest as _pt

    from elb_log_to_mysql_spark.operators.multimodal import png_decode_pixels

    with _pt.raises(ValueError):
        png_decode_pixels(b"BM" + b"\x00" * 60)


def test_countmin_never_undercounts_and_merges(spark, sf_dir):
    """CMS structural guarantee: est >= exact for EVERY key (not just
    the top-10), and the sketch built on split halves MERGES (counter
    addition) to exactly the whole-corpus sketch."""
    from pyspark.sql import functions as F

    from elb_log_to_mysql_spark.operators.advanced import countmin_estimates
    from elb_log_to_mysql_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    out = countmin_estimates(li, "l_partkey", width=64, topk=50)
    assert out.filter("NOT never_undercounts").count() == 0
    # mergeability: sum of half-sketch estimates == whole estimate is
    # NOT guaranteed (min over merged counters), but counters add:
    from elb_log_to_mysql_spark.operators.advanced import _CMS_SALTS, _cms_bucket

    k = F.col("l_partkey").cast("long")
    def sketch(df):
        return (
            df.select(_cms_bucket(k, _CMS_SALTS[0], 64).alias("b"))
            .groupBy("b").agg(F.count(F.lit(1)).alias("c"))
        )
    lo = li.filter("l_orderkey % 2 = 0")
    hi = li.filter("l_orderkey % 2 = 1")
    merged = (
        sketch(lo).withColumnRenamed("c", "c1")
        .join(sketch(hi).withColumnRenamed("c", "c2"), "b", "full_outer")
        .select("b", (F.coalesce("c1", F.lit(0)) + F.coalesce("c2", F.lit(0))).alias("c"))
    )
    whole = sketch(li)
    diff = merged.join(whole.withColumnRenamed("c", "cw"), "b").filter("c <> cw")
    assert diff.count() == 0


def test_salted_join_multiset_equals_plain_join(spark, sf_dir):
    """Row-level (not just aggregate) equivalence: the salted join
    must produce exactly the plain join's multiset, for any salt
    count, including rows whose key misses the small side."""
    from pyspark.sql import functions as F

    from elb_log_to_mysql_spark.operators.skew import salted_join
    from elb_log_to_mysql_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    for n_salts in (1, 4):
        got = salted_join(orders, cust, "o_custkey", "c_custkey", n_salts)
        want = orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        assert got.count() == want.count()
        assert (
            got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
        )


def test_unigram_prevalence_exact_counts(spark):
    """Frequencies are corpus-wide occurrence counts; per-doc stats
    are exact integers with one final IEEE division."""
    from elb_log_to_mysql_spark.operators import textops

    rows = [
        (1, "the cat sat", "en"),
        (2, "the the dog", "en"),
        (3, "zyzzyx", "en"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in textops.unigram_prevalence(docs).collect()}
    # corpus counts: the=3, cat=1, sat=1, dog=1, zyzzyx=1
    assert out[1].n_tokens == 3 and out[1].sum_freq == 3 + 1 + 1
    assert out[1].min_freq == 1
    assert out[2].sum_freq == 3 + 3 + 1 and out[2].min_freq == 1
    assert out[3].sum_freq == 1 and out[3].mean_freq == 1.0
    assert out[1].mean_freq == 5 / 3


def test_kmeans_embeddings_invariants(spark, sf_dir):
    """Every vector assigned exactly once, assignment is the true
    argmin against the final centroids, and the whole run is
    deterministic (decimal-exact centroid contract)."""
    from elb_log_to_mysql_spark.operators.clustering import kmeans_embeddings
    from elb_log_to_mysql_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_embeddings(emb, k=4, iterations=2)
    rows = out.collect()
    n = emb.count()
    assert len(rows) == n
    assert {r.vec_id for r in rows} == {
        r.vec_id for r in emb.select("vec_id").collect()
    }
    assert {r.cluster_id for r in rows} <= set(range(4))
    # determinism: second run bit-identical (incl. double dists)
    again = {r.vec_id: (r.cluster_id, r.dist)
             for r in kmeans_embeddings(emb, k=4, iterations=2).collect()}
    assert {r.vec_id: (r.cluster_id, r.dist) for r in rows} == again

    # replay the whole 2-round Lloyd's in plain python (same decimal
    # centroid contract, same left-to-right fold order) and demand
    # bit-identical assignments AND distances
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.select("vec_id", "embedding").collect()
    }
    from decimal import ROUND_HALF_UP, Decimal

    def d8(x):
        return Decimal(repr(x)).quantize(
            Decimal("1.00000000"), rounding=ROUND_HALF_UP
        )

    def sqdist(v, c):
        acc = 0.0
        for a, b in zip(v, c):
            acc = acc + (a - b) * (a - b)
        return acc

    def argmin(v, cents):
        return min(cents, key=lambda c: (sqdist(v, cents[c]), c))

    seeds = sorted(vecs)[:4]
    cents = {j: vecs[i] for j, i in enumerate(seeds)}
    assign0 = {vid: argmin(v, cents) for vid, v in vecs.items()}
    import collections
    members = collections.defaultdict(list)
    for vid, c in assign0.items():
        members[c].append(vid)
    cents1 = {
        c: [
            float(sum(d8(vecs[i][p]) for i in ids)) / len(ids)
            for p in range(len(vecs[ids[0]]))
        ]
        for c, ids in members.items()
    }
    for c in cents:
        cents1.setdefault(c, cents[c])
    for r in rows:
        assert r.cluster_id == argmin(vecs[r.vec_id], cents1), r.vec_id
        assert r.dist == sqdist(vecs[r.vec_id], cents1[r.cluster_id]), r.vec_id


def test_bigram_condprob_bruteforce(spark):
    from elb_log_to_mysql_spark.operators import textops

    rows = [
        (1, "a b a b", "en"),
        (2, "a b c", "en"),
        (3, "c", "en"),         # <2 tokens: no output row
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in textops.bigram_condprob(docs).collect()}
    # corpus: c(a)=3, c(b)=3, c(c)=2; c(a b)=3, c(b a)=1, c(b c)=1
    assert set(out) == {1, 2}
    # doc 1 bigrams: (a,b)=3/3, (b,a)=1/3, (a,b)=3/3
    ps1 = [1.0, 1 / 3, 1.0]
    assert out[1].n_bigrams == 3
    assert out[1].min_condp == min(ps1)
    assert abs(out[1].mean_condp - sum(ps1) / 3) < 1e-7
    # doc 2: (a,b)=3/3, (b,c)=1/3
    assert out[2].n_bigrams == 2 and out[2].min_condp == 1 / 3


def test_lm_perplexity_filter_bruteforce(spark):
    import math

    from elb_log_to_mysql_spark.operators import textops

    rows = [
        (1, "a b a b", "en"),   # high-probability order
        (2, "b b b b", "en"),   # bigram (b,b) never follows elsewhere
        (3, "a b c", "en"),
        (4, "c", "en"),         # <2 tokens: no output row
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in textops.lm_perplexity_filter(docs).collect()}
    assert set(out) == {1, 2, 3}

    # brute-force replica: c1 from all tokens, c12 from positions,
    # V = |vocab|, p = (c12+1)/(c1+V), bits = round(-log2(p), 6)
    toks = {d: t.split() for d, t, _ in rows}
    c1: dict = {}
    c12: dict = {}
    for t in toks.values():
        for w in t:
            c1[w] = c1.get(w, 0) + 1
        for a, b in zip(t, t[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
    v = len(c1)
    ce = {}
    for d, t in toks.items():
        bits = [
            round(-math.log2((c12[(a, b)] + 1) / (c1[a] + v)), 6)
            for a, b in zip(t, t[1:])
        ]
        if bits:
            ce[d] = sum(bits) / len(bits)
    thr = sum(ce.values()) / len(ce)
    for d, want in ce.items():
        assert out[d].n_bigrams == len(toks[d]) - 1
        assert abs(out[d].cross_entropy - want) < 1e-6, d
        assert out[d].keep == (out[d].cross_entropy <= thr), d
    # the common-order doc survives; the improbable-order docs drop
    # (doc1 ce≈1.164 < thr≈1.313 < doc2 ce≈1.322 < doc3 ce≈1.454)
    assert out[1].keep and not out[2].keep and not out[3].keep


def test_interval_join_bucketed_matches_bruteforce(spark, sf_dir):
    """Bucket decomposition must reproduce the naive quadratic join
    exactly, including zero-match probes and the cross-user filter."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    got = {
        r.event_id: r.n_nearby
        for r in relational.interval_join_bucketed(purchases, clicks).collect()
    }
    p = [(r.event_id, r.user_id, r.ts) for r in purchases.collect()]
    c = [(r.event_id, r.user_id, r.ts) for r in clicks.collect()]
    tol = 60_000_000

    def us_delta(a, b):
        # exact integer microseconds via timedelta fields (float
        # .timestamp() arithmetic can flip an exact-boundary pair)
        d = abs(a - b)
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds

    want = {
        pid: sum(
            1
            for (cid, cu, cts) in c
            if cu != pu and us_delta(cts, pts) <= tol
        )
        for (pid, pu, pts) in p
    }
    assert got == want
    assert any(v == 0 for v in got.values())  # zero-match probes kept


def test_embedding_quantize_int8_bruteforce(spark):
    import math

    from elb_log_to_mysql_spark.operators import similarity as sim

    rows = [
        (1, [0.5, -1.0, 0.25]),
        (2, [0.0, 0.0, 0.0]),     # zero vector: scale 0, all q 0
        (3, [2.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in sim.embedding_quantize_int8(emb).collect()}
    for vid, vec in rows:
        maxabs = max(abs(x) for x in vec)
        scale = 127.0 / maxabs if maxabs > 0 else 0.0
        q = [math.floor(x * scale + 0.5) for x in vec]
        r = out[vid]
        assert r.scale == scale
        assert (r.q_sum, r.q_min, r.q_max) == (sum(q), min(q), max(q))
        assert r.n_sat == sum(1 for x in q if abs(x) == 127)


def test_semantic_dedup_quality_survivor_policy(spark, sf_dir):
    """Exactly one survivor per cluster, and it attains the cluster's
    max quality (doc_id tiebreak)."""
    from elb_log_to_mysql_spark.queries import QUERIES

    rows = QUERIES["semantic_dedup_quality"](spark, sf_dir).collect()
    import collections
    by_cluster = collections.defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    for cid, members in by_cluster.items():
        surv = [r for r in members if r.is_survivor]
        assert len(surv) == 1, cid
        best = max(members, key=lambda r: (r.quality_score, -r.doc_id))
        assert surv[0].doc_id == best.doc_id, cid


def test_kmeans_embeddings_drops_null_vectors(spark):
    """The portable-NULL contract: null vectors are excluded in BOTH
    engines (a null distance would sort NULLS FIRST in Spark's argmin
    but NULLS LAST in SQL — filtering is the only portable rule)."""
    from elb_log_to_mysql_spark.operators.clustering import kmeans_embeddings

    rows = [
        (1, [0.0, 0.0]),
        (2, [1.0, 1.0]),
        (3, None),
        (4, [0.1, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_embeddings(emb, k=2, iterations=2).collect()
    assert {r.vec_id for r in out} == {1, 2, 4}  # null row dropped
    by_id = {r.vec_id: r.cluster_id for r in out}
    assert by_id[1] == 0 and by_id[2] == 1 and by_id[4] == 0


def test_unigram_prevalence_under_extreme_skew(spark):
    """The token↔vocab join is Zipf-skewed by design; an artificial
    worst case (one token = half of ALL occurrences, one doc holding
    80% of rows) must still produce exact counts."""
    from elb_log_to_mysql_spark.operators import textops

    hot = "the " * 400          # one hot token, 400 occurrences in doc 1
    rows = [(1, hot + "alpha beta", "en")] + [
        (i, f"the tok{i} gamma", "en") for i in range(2, 52)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in textops.unigram_prevalence(docs).collect()}
    c_the = 400 + 50
    assert out[1].n_tokens == 402
    assert out[1].sum_freq == 400 * c_the + 1 + 1
    assert out[2].sum_freq == c_the + 1 + 50  # the + tok2 + gamma(50 docs)
    assert out[2].min_freq == 1


def test_kmeans_three_rounds_matches_python_replay(spark, sf_dir):
    """The Lloyd loop generalizes past the oracle's 2-round pin: a
    full 3-round python replay (same decimal centroid contract, same
    fold order) must match assignments AND distances bit-for-bit."""
    from decimal import ROUND_HALF_UP, Decimal

    from elb_log_to_mysql_spark.operators.clustering import kmeans_embeddings
    from elb_log_to_mysql_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        r.vec_id: (r.cluster_id, r.dist)
        for r in kmeans_embeddings(emb, k=4, iterations=3).collect()
    }
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def d8(x):
        return Decimal(repr(x)).quantize(
            Decimal("1.00000000"), rounding=ROUND_HALF_UP
        )

    def sqdist(v, c):
        acc = 0.0
        for a, b in zip(v, c):
            acc = acc + (a - b) * (a - b)
        return acc

    def argmin(v, cents):
        return min(cents, key=lambda c: (sqdist(v, cents[c]), c))

    cents = {j: vecs[i] for j, i in enumerate(sorted(vecs)[:4])}
    assign = {vid: argmin(v, cents) for vid, v in vecs.items()}
    for _ in range(2):  # two centroid updates = three assignment rounds
        import collections
        members = collections.defaultdict(list)
        for vid, c in assign.items():
            members[c].append(vid)
        new_cents = {
            c: [
                float(sum(d8(vecs[i][p]) for i in ids)) / len(ids)
                for p in range(len(vecs[ids[0]]))
            ]
            for c, ids in members.items()
        }
        for c in cents:
            new_cents.setdefault(c, cents[c])
        cents = new_cents
        assign = {vid: argmin(v, cents) for vid, v in vecs.items()}
    want = {
        vid: (assign[vid], sqdist(vecs[vid], cents[assign[vid]]))
        for vid in vecs
    }
    assert got == want


def test_bpe_merge_loop_semantics(spark):
    """Pin the loop's three contracts on a handcrafted corpus:
    overlapping pair COUNTING, non-overlapping left-to-right merge
    APPLICATION, and the (count desc, pair asc) argmax tiebreak —
    with each merge visibly changing the next iteration's counts."""
    from elb_log_to_mysql_spark.operators.textops import bpe_merge_loop

    docs = spark.createDataFrame(
        [(1, "the theme the"), (2, "theme thesis the")],
        "doc_id long, text string",
    )
    rows = [tuple(r) for r in bpe_merge_loop(docs, n_merges=3).collect()]
    # iter1: (h,e) and (t,h) tie at 6 -> pair_a tiebreak picks (h,e)
    # iter2: (t,he) dominates at 6 after re-segmentation
    # iter3: (m,e) and (the,m) tie at 2 -> 'm' < 'the'
    assert rows == [
        (1, "h", "e", "he", 6),
        (2, "t", "he", "the", 6),
        (3, "m", "e", "me", 2),
    ]


def test_bpe_merge_loop_overlap_and_exhaustion(spark):
    """'aaaa' must COUNT three overlapping (a,a) pairs per word but
    MERGE to [aa, aa] (non-overlapping left-to-right); when the
    alphabet is exhausted before n_merges, the loop stops and emits
    only the completed merges (the oracle's empty-CTE behavior)."""
    from elb_log_to_mysql_spark.operators.textops import bpe_merge_loop

    docs = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    rows = [tuple(r) for r in bpe_merge_loop(docs, n_merges=3).collect()]
    assert rows == [
        (1, "a", "a", "aa", 6),     # 3 overlapping pairs x 2 words
        (2, "aa", "aa", "aaaa", 2), # non-overlap left it as [aa, aa]
    ]


def test_bpe_encode_semantics(spark):
    """Encode = the trained merges applied back to the corpus: the
    final vocabulary's counts must be word-frequency-weighted, rank
    merged symbols alongside never-merged single characters, and
    survive early alphabet exhaustion (merges 'aa' then 'ab', then
    runs out of pairs before the n_merges budget)."""
    from elb_log_to_mysql_spark.operators.textops import bpe_encode

    docs = spark.createDataFrame(
        [(1, "aa aa ab"), (2, "ab aa")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in bpe_encode(docs, n_merges=3, k=40).collect()]
    # iter1 merges (a,a)->aa [count 3]; iter2 merges (a,b)->ab
    # [count 2]; iter3 finds no pairs. Final words: aa->[aa] x3,
    # ab->[ab] x2 -> vocabulary is exactly the two merged tokens.
    assert rows == [("aa", 3, 2), ("ab", 2, 2)]


def test_bpe_encode_mixed_vocabulary(spark):
    """Single characters that never merged must remain first-class
    vocabulary entries, ordered by the (count desc, token asc) total
    tiebreak."""
    from elb_log_to_mysql_spark.operators.textops import bpe_encode

    docs = spark.createDataFrame(
        [(1, "ab ab ab xy")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in bpe_encode(docs, n_merges=1, k=40).collect()]
    # one merge: (a,b)->ab x3; 'xy' stays [x, y]
    assert rows == [("ab", 3, 2), ("x", 1, 1), ("y", 1, 1)]


def test_interval_join_custom_id_user_columns(spark, sf_dir):
    """The parameterized id/user column names must produce the same
    result as the default schema (review finding: the params existed
    with zero exercised coverage)."""
    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase")
    points = ev.filter(F.col("event_type") == "click")
    base = {
        (r.event_id, r.n_nearby)
        for r in relational.interval_join_bucketed(probes, points).collect()
    }
    renamed = {
        (r.event_id, r.n_nearby)
        for r in relational.interval_join_bucketed(
            probes.withColumnRenamed("event_id", "pid")
            .withColumnRenamed("user_id", "puser"),
            points.withColumnRenamed("event_id", "cid")
            .withColumnRenamed("user_id", "cuser"),
            probe_id="pid",
            point_id="cid",
            probe_user="puser",
            point_user="cuser",
        ).collect()
    }
    assert renamed == base


def test_bpe_merge_loop_no_eligible_tokens(spark):
    """A corpus with no [a-z0-9]{2,} tokens must yield an EMPTY merge
    list (the oracle's all-empty b_i CTEs), not crash (review
    finding: merge_rows[0] raised IndexError)."""
    from elb_log_to_mysql_spark.operators.textops import bpe_merge_loop

    docs = spark.createDataFrame(
        [(1, "A B !!"), (2, "")], "doc_id long, text string"
    )
    out = bpe_merge_loop(docs, n_merges=3)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "step", "pair_a", "pair_b", "merged", "n_occurrences",
    ]


def test_kmeans_nan_vector_lands_in_cluster_zero(spark):
    """A NaN coordinate poisons every distance fold; the in-row argmin
    must reproduce the windowed form's tie rule (NaN sorts last, ties
    break to the lowest cluster id): cluster 0 with NaN dist — never
    the internal -1 sentinel (review finding)."""
    import math

    from elb_log_to_mysql_spark.operators.clustering import kmeans_embeddings

    rows = [
        (0, [0.0, 0.0]),
        (1, [4.0, 4.0]),
        (2, [float("nan"), 1.0]),
        (3, [3.9, 4.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in kmeans_embeddings(emb, k=2, iterations=1).collect()}
    assert out[2].cluster_id == 0 and math.isnan(out[2].dist)
    assert out[3].cluster_id == 1  # sane assignment for finite rows
    assert all(r.cluster_id >= 0 for r in out.values())


def test_pq_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_pq(emb, q, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"PQ recall too low: {recall}"


def test_pq_codebooks_deterministic(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    a = similarity.train_pq_codebooks(emb, m=8, n_codes=16)
    b = similarity.train_pq_codebooks(emb, m=8, n_codes=16)
    assert a.shape == (8, 16, 8)
    assert np.array_equal(a, b), "codebook training must be bit-deterministic"


def test_pq_query_path_has_no_inline_training(spark, sf_dir):
    """With precomputed codebooks AND an explicit rerank depth the PQ
    search must be pure plan construction — building the DataFrame
    triggers no Spark job. (The r13 default rerank_factor=None
    derives the depth from the corpus's code ties, which is
    deliberately EAGER — one scalar agg; the explicit int is the
    documented lazy opt-out this test pins.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.train_pq_codebooks(emb, m=8, n_codes=16)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = similarity.similarity_topk_pq(
        emb, emb.filter(F.col("vec_id") < 10), k=5, rerank_factor=4,
        codebooks=cb,
    )
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "plan construction ran Spark jobs"
    assert df.count() > 0
    # and the derived default IS eager: one derivation agg runs
    before = tracker.getJobIdsForGroup(None)
    similarity.similarity_topk_pq(
        emb, emb.filter(F.col("vec_id") < 10), k=5, codebooks=cb
    )
    after = tracker.getJobIdsForGroup(None)
    assert before != after, "derived-depth default should run the agg"


def test_pq_adc_scan_reads_codes_not_vectors(spark, sf_dir):
    """The ADC candidate stage must rank by code lookups: its plan
    side carries the m-length code array, never a theta join, and the
    raw-vector fetch is a broadcast equi-join on the candidate ids."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.train_pq_codebooks(emb, m=8, n_codes=16)
    plan = similarity.similarity_topk_pq(
        emb, emb.filter(F.col("vec_id") < 10), k=5, codebooks=cb
    )._jdf.queryExecution().executedPlan().toString()
    assert "codes" in plan
    assert "BroadcastHashJoin" in plan


def test_ivfpq_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_ivfpq(
            emb, q, k=5, nprobe=12
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVFPQ recall too low: {recall}"


def test_ivfpq_candidate_join_is_cell_equijoin(spark, sf_dir):
    """The composed path must candidate-generate via the cell
    equi-join (sublinear scan), never a cross join of corpus x
    queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    cen = similarity.train_ivf_centroids(emb)
    cb = similarity.train_pq_codebooks(emb, m=8, n_codes=16)
    plan = similarity.similarity_topk_ivfpq(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        centroids=cen,
        codebooks=cb,
        m=8,
        n_codes=16,
    )._jdf.queryExecution().executedPlan().toString()
    assert "cell" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _tiny_embeddings(spark, n=60, dim=16, shift=0.0, id0=0):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (id0 + i, [float(x) for x in (rng.normal(size=dim) + shift)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_incremental_ann_index_equals_full_rebuild(spark):
    """Assignment is a pure per-row function of (vector, frozen
    artifacts): base-index UNION batch-assignment must equal a full
    reassignment pass over the union, row for row (cell AND codes) —
    the contract that makes O(|batch|) index maintenance sound."""
    base = _tiny_embeddings(spark, n=40, id0=0)
    batch = _tiny_embeddings(spark, n=20, id0=100)
    C = similarity.train_ivf_centroids(base, n_centroids=4)
    CB = similarity.train_pq_codebooks(base, m=4, n_codes=8)
    base_index = similarity.ann_index_assign(base, C, CB)
    updated = similarity.incremental_ann_index(base_index, batch, C, CB)
    full = similarity.ann_index_assign(base.unionByName(batch), C, CB)
    got = {
        r.vec_id: (r.cell, tuple(r.codes)) for r in updated.collect()
    }
    want = {r.vec_id: (r.cell, tuple(r.codes)) for r in full.collect()}
    assert got == want
    flags = {r.vec_id: r.is_new for r in updated.collect()}
    assert all(not flags[i] for i in range(40))
    assert all(flags[100 + i] for i in range(20))


def test_ann_index_drift_trips_on_shifted_batch(spark):
    """An in-distribution batch stays below the trip line; a batch
    whose distribution moved (constant +6 sigma shift) must trip the
    mean-quantization-error statistic, signalling an offline
    artifact re-derive."""
    base = _tiny_embeddings(spark, n=40, id0=0)
    same = _tiny_embeddings(spark, n=20, id0=100)
    moved = _tiny_embeddings(spark, n=20, shift=6.0, id0=200)
    C = similarity.train_ivf_centroids(base, n_centroids=4)
    CB = similarity.train_pq_codebooks(base, m=4, n_codes=8)
    bi = similarity.ann_index_assign(base, C, CB)
    ok = similarity.ann_index_drift(
        bi, similarity.ann_index_assign(same, C, CB)
    ).first()
    assert not ok.drift_tripped, (ok.base_err, ok.batch_err)
    bad = similarity.ann_index_drift(
        bi, similarity.ann_index_assign(moved, C, CB)
    ).first()
    assert bad.drift_tripped, (bad.base_err, bad.batch_err)


def test_chunk_documents_window_arithmetic(spark):
    """Pin the sliding-window edges: multi-chunk doc with short final
    window, exactly-one-window doc, shorter-than-overlap doc,
    token-less doc (dropped), and the overlap property (consecutive
    chunks share exactly `overlap` tokens)."""
    from elb_log_to_mysql_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 toks
            (2, " ".join(f"w{i}" for i in range(4))),   # 4 = width
            (3, "a"),                                    # 1 < overlap
            (4, "   "),                                  # token-less
            (5, " ".join(f"w{i}" for i in range(5))),   # 4 + 1 extra
        ],
        "doc_id int, text string",
    )
    out = textops.chunk_documents(docs, chunk_tokens=4, overlap=1)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # doc 1: stride 3, n=10 -> ceil(9/3)=3 chunks at 0,3,6
    assert [rows[(1, i)].start_tok for i in range(3)] == [0, 3, 6]
    assert rows[(1, 2)].n_tokens == 4 and rows[(1, 2)].chunk_text == "w6 w7 w8 w9"
    # overlap property: chunk i's last `overlap` tokens == chunk i+1's first
    assert rows[(1, 0)].chunk_text.split()[-1:] == rows[(1, 1)].chunk_text.split()[:1]
    # doc 2: exactly one window
    assert rows[(2, 0)].n_tokens == 4 and (2, 1) not in rows
    # doc 3: shorter than overlap -> still one (short) chunk
    assert rows[(3, 0)].n_tokens == 1 and rows[(3, 0)].chunk_text == "a"
    # doc 4: no tokens -> no rows
    assert not any(k[0] == 4 for k in rows)
    # doc 5: n=5, stride 3 -> 2 chunks; final covers tokens 3..4
    assert rows[(5, 1)].start_tok == 3 and rows[(5, 1)].n_tokens == 2


def test_bm25_topk_hand_corpus(spark):
    """BM25 on a corpus small enough to score by hand: rare terms get
    picked as queries, tf and shorter length rank docs up, ranks are
    contiguous per term."""
    import math

    from elb_log_to_mysql_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common common common"),
            (2, "apple common common common common common"),
            (3, "banana common common"),
            (4, "common common common common"),
            (5, "cherry common"),
        ],
        "doc_id long, text string",
    )
    out = textops.bm25_topk(docs, n_query_terms=2, k=10)
    rows = [r.asDict() for r in out.collect()]
    # cherry has df=1 (excluded by df>=2); apple/banana df=2 tie ->
    # alphabetical: both picked
    assert {r["term"] for r in rows} == {"apple", "banana"}
    by_term = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    for rs in by_term.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
    # apple: doc 1 has tf=2 (same dl as doc 2) -> ranks first
    apple = by_term["apple"]
    assert apple[0]["doc_id"] == 1 and apple[0]["tf"] == 2
    assert apple[1]["doc_id"] == 2 and apple[1]["tf"] == 1
    # banana: docs 1 and 3 both tf=1; doc 3 is SHORTER (dl=3 vs 6)
    # -> length normalization ranks doc 3 first
    banana = by_term["banana"]
    assert [r["doc_id"] for r in banana] == [3, 1]
    # closed-form sanity check of the formula's inputs: the winning
    # apple doc's (tf, dl) must reproduce a positive BM25 score
    n, df, tf, dl = 5, 2, apple[0]["tf"], apple[0]["dl"]
    avgdl = (6 + 6 + 3 + 4 + 2) / 5
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    score = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    assert score > 0 and (tf, dl) == (2, 6)


def test_hybrid_rrf_fusion_semantics(spark):
    """RRF fusion: a document strong in BOTH legs outranks documents
    strong in one; leg ranks survive into the output; ranks dense."""
    from elb_log_to_mysql_spark.operators import retrieval

    # doc 0 is the query. doc 1: lexically identical AND embedded
    # identically -> wins both legs. doc 2: lexical-only match.
    # doc 3: embedding-only match. doc 4: unrelated.
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),
            (3, "zeta eta theta iota"),
            (4, "kappa lambda mu nu"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.05, 0.0]),
            (2, [0.0, 0.0, 1.0]),
            (3, [1.0, 0.1, 0.0]),
            (4, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = retrieval.hybrid_rrf(docs, emb, n_queries=1, k_leg=3, k=4)
    rows = sorted((r.asDict() for r in out.collect()), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in rows][0] == 1  # both-leg doc wins
    d = {r["doc_id"]: r for r in rows}
    assert d[1]["rank_lex"] == 1 and d[1]["rank_sem"] == 1
    # doc 3 matches only by embedding: NULL lexical rank survives the
    # outer join; doc 4 is in neither leg's top-k and is absent
    assert d[3]["rank_lex"] is None and d[3]["rank_sem"] is not None
    assert set(d) == {1, 2, 3}
    ranks = [r["rank"] for r in rows]
    assert ranks == list(range(1, len(rows) + 1))


def test_lexical_topk_overlap_counts(spark):
    from elb_log_to_mysql_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (0, "a b c d"),
            (1, "a b c x"),   # overlap 3
            (2, "a b y z"),   # overlap 2
            (3, "p q r s"),   # overlap 0 -> absent
        ],
        "doc_id long, text string",
    )
    out = retrieval.lexical_topk(docs, docs.filter("doc_id = 0"), k=5)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["overlap"] == 3 and rows[1]["rank_lex"] == 1
    assert rows[2]["overlap"] == 2 and rows[2]["rank_lex"] == 2
    assert 3 not in rows and 0 not in rows


def test_variant_roundtrip_preserves_types_and_nulls(spark):
    """VARIANT path extraction: typed hits, missing-path NULLs, and
    nested array indexing."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [('{"a": {"xs": [10, 20]}, "s": "hi"}',), ('{"a": {}}',)],
        "j string",
    ).select(F.parse_json("j").alias("v"))
    rows = df.select(
        F.try_variant_get("v", "$.a.xs[1]", "long").alias("x1"),
        F.try_variant_get("v", "$.s", "string").alias("s"),
        F.try_variant_get("v", "$.missing", "long").alias("m"),
    ).collect()
    assert rows[0]["x1"] == 20 and rows[0]["s"] == "hi" and rows[0]["m"] is None
    assert rows[1]["x1"] is None and rows[1]["s"] is None


def test_pq_adaptive_band_covers_noisy_near_dups(spark):
    """The round-13 320x finding (ANN_SCALE_PROBE_320x_derived.json):
    NOISY near-duplicates quantize to slightly different codes, so max
    code multiplicity stays tiny and the multiplicity-derived depth
    hits its floor — yet ADC still cannot rank within the cluster
    (quantization error >> intra-cluster distance spread), so a fixed
    shortlist loses recall. The adaptive branch of the shortlist —
    since round 14 the per-candidate lower/upper-bound cut
    (_shortlist_rerank: lb_c <= per-query exact/ub bound) — must cover
    what multiplicity cannot see. Fixture: 6 spread unit bases x 60
    noisy clones, codebooks fine enough (m=8, 32 codes) that the
    noise crosses cell boundaries."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim, n_base, n_clone, k = 16, 6, 60, 5
    base = rng.normal(0, 1.0, size=(n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i in range(n_base):
        for j in range(n_clone):
            vec = base[i] + rng.normal(0, 0.06, size=dim)
            rows.append((int(i * 1000 + j), [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = similarity.train_pq_codebooks(emb, m=8, n_codes=32)

    from elb_log_to_mysql_spark.functions.vectorops import with_pq_index_cols
    from elb_log_to_mysql_spark.operators.similarity import (
        derive_pq_search_params,
    )

    indexed = with_pq_index_cols(
        emb.select(F.col("embedding").alias("_v")), "_v", cb,
        qerr=True, drop=("_v",),
    ).persist()
    try:
        rf, band = derive_pq_search_params(indexed, k)
    finally:
        indexed.unpersist()
    # the multiplicity-blind regime: codes differ within clusters, so
    # the depth alone cannot cover the 60-wide cluster — the band must
    assert rf * k < n_clone, (rf, band)
    assert band > 0

    q = emb.filter(F.col("vec_id") % 1000 == 0)  # one query per cluster
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(emb, q, k=k).collect()
    }
    got_auto = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_pq(
            emb, q, k=k, rerank_factor=None, codebooks=cb
        ).collect()
    }
    got_fixed = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_pq(
            emb, q, k=k, rerank_factor=4, codebooks=cb
        ).collect()
    }
    recall_auto = len(exact & got_auto) / len(exact)
    recall_fixed = len(exact & got_fixed) / len(exact)
    assert recall_auto == 1.0, f"band must recover recall: {recall_auto}"
    assert recall_fixed < recall_auto, (
        f"fixed depth should lose recall on noisy clusters "
        f"({recall_fixed} vs {recall_auto}) - if not, the fixture no "
        f"longer breaks code ties"
    )

    # IVFPQ derived path: all cells probed so the only recall risk is
    # the shortlist cut — the band must rescue it the same way
    centroids = similarity.train_ivf_centroids(emb, n_centroids=4)
    got_ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_ivfpq(
            emb, q, k=k, n_centroids=4, nprobe=4, rerank_factor=None,
            centroids=centroids, codebooks=cb,
        ).collect()
    }
    assert len(exact & got_ivf) / len(exact) == 1.0


def test_pq_rerank_depth_derivation_covers_tie_clusters(spark):
    """The 320x-probe law productized (SCALE.md round-12): ADC scores
    tie across vectors sharing a code sequence, so the exact-rerank
    shortlist must cover the widest tie cluster. Construct a corpus of
    8 spread base vectors x 40 near-clones whose perturbations are far
    below the quantization cell size (codebooks trained on the bases
    alone), with clone ids PERMUTED so id order is decorrelated from
    exact-cosine proximity. Then:
      - every clone cluster shares one code word -> max multiplicity 40,
        derive_pq_rerank_factor sizes the shortlist past it;
      - rerank_factor=None recovers the exact top-k (recall 1.0);
      - the fixed default depth 4 (shortlist 20 < cluster 40) provably
        cannot (recall strictly lower)."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n_base, n_clone, k = 4, 8, 40, 5
    base = rng.normal(0, 10.0, size=(n_base, dim))  # spread: cells far apart
    perm = rng.permutation(n_clone)
    u = rng.normal(0, 1.0, size=dim)
    u /= np.linalg.norm(u)
    rows = []
    for i in range(n_base):
        for j in range(n_clone):
            # perturbation ~1e-3: orders of magnitude under the
            # inter-base distance, so the nearest sub-centroid (and
            # hence the PQ code) is the base's for every clone
            vec = base[i] + (j + 1) * 1e-3 * u
            rows.append((int(i * 1000 + perm[j]), [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base_df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n_base)],
        "vec_id long, embedding array<double>",
    )
    cb = similarity.train_pq_codebooks(base_df, m=2, n_codes=8)

    from elb_log_to_mysql_spark.functions.vectorops import with_pq_codes
    from elb_log_to_mysql_spark.operators.similarity import (
        derive_pq_rerank_factor,
    )

    codes = with_pq_codes(
        emb.select(F.col("embedding").alias("_v")), "_v", cb, drop=("_v",)
    )
    assert codes.distinct().count() == n_base  # one code word per cluster
    rf = derive_pq_rerank_factor(codes, k)
    assert rf * k >= n_clone  # shortlist covers the widest tie cluster
    assert rf > 4

    q = emb.filter(F.col("vec_id") % 1000 == 0)  # one query per cluster
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(emb, q, k=k).collect()
    }
    got_auto = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_pq(
            emb, q, k=k, rerank_factor=None, codebooks=cb
        ).collect()
    }
    got_fixed = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_pq(
            emb, q, k=k, rerank_factor=4, codebooks=cb
        ).collect()
    }
    recall_auto = len(exact & got_auto) / len(exact)
    recall_fixed = len(exact & got_fixed) / len(exact)
    assert recall_auto == 1.0, f"auto depth must recover: {recall_auto}"
    assert recall_fixed < recall_auto, (
        f"fixed depth 4 vs 40-wide tie clusters should lose recall "
        f"({recall_fixed} vs {recall_auto}) - if not, the fixture no "
        f"longer builds tie clusters"
    )

    # IVFPQ: same derivation through the stored-index path
    got_ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_ivfpq(
            emb, q, k=k, n_centroids=4, nprobe=4,
            rerank_factor=None, codebooks=cb,
        ).collect()
    }
    assert len(exact & got_ivf) / len(exact) == 1.0


def test_pq_admission_stats_telemetry(spark):
    """VERDICT r13 item 2: the adaptive cut's admission width must be
    observable. with_stats=True returns (result, stats_df) with one
    row per query: admitted >= k (the shortlist always covers the
    rerank), cut_admitted counts candidates the adaptive cut kept
    beyond the depth floor, cap_dropped counts cut-eligible candidates
    the k*cap valve rejected (0 on any sane corpus). The result frame
    must be IDENTICAL to the stats-free call."""
    import numpy as np

    rng = np.random.default_rng(3)
    dim, n, k = 16, 400, 5
    emb = spark.createDataFrame(
        [
            (i, [float(x) for x in rng.normal(0, 1, dim)])
            for i in range(n)
        ],
        "vec_id long, embedding array<double>",
    )
    cb = similarity.train_pq_codebooks(emb, m=8, n_codes=16)
    q = emb.filter(F.col("vec_id") < 4)

    plain = similarity.similarity_topk_pq(emb, q, k=k, codebooks=cb)
    out, stats = similarity.similarity_topk_pq(
        emb, q, k=k, codebooks=cb, with_stats=True
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, plain.collect())
    )
    rows = {r.query_id: r for r in stats.collect()}
    assert set(rows) == {0, 1, 2, 3}
    for r in rows.values():
        assert r.admitted >= k
        assert r.cut_admitted >= 0
        assert r.cap_dropped == 0

    # IVFPQ path exposes the same telemetry
    out2, stats2 = similarity.similarity_topk_ivfpq(
        emb, q, k=k, n_centroids=4, nprobe=4, codebooks=cb,
        with_stats=True,
    )
    assert out2.count() == k * 4
    for r in stats2.collect():
        assert r.admitted >= k and r.cap_dropped == 0

    # explicit-int path: no cut, stats still well-formed (zeros)
    _, stats3 = similarity.similarity_topk_pq(
        emb, q, k=k, rerank_factor=4, codebooks=cb, with_stats=True
    )
    for r in stats3.collect():
        assert r.cut_admitted == 0 and r.cap_dropped == 0
        assert r.admitted <= k * 4


def test_ivf_auto_exact_recall_and_pruning(spark):
    """similarity_topk_ivf_auto (VERDICT r13 item 3): the derived
    probe set's triangle-inequality prune must (a) return the EXACT
    cosine top-k — coverage is provable, so equality not a floor —
    on a scattered corpus where any fixed sub-full nprobe loses
    cells, and (b) probe FEW cells on a tightly clustered corpus
    where the bound is tight."""
    import numpy as np

    rng = np.random.default_rng(5)
    dim, k = 16, 5

    # (a) scattered: 300 near-uniform unit vectors
    scatter = rng.normal(0, 1, size=(300, dim))
    scatter /= np.linalg.norm(scatter, axis=1, keepdims=True)
    emb_a = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(scatter)],
        "vec_id long, embedding array<double>",
    )
    q_a = emb_a.filter(F.col("vec_id") < 5)
    exact_a = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.similarity_topk_bruteforce(
            emb_a, q_a, k=k
        ).collect()
    }
    got_a, stats_a = similarity.similarity_topk_ivf_auto(
        emb_a, q_a, k=k, n_centroids=8, with_stats=True
    )
    got_a = {(r.query_id, r.neighbor_id, r.rank) for r in got_a.collect()}
    assert got_a == exact_a  # exact, not approximate

    # (b) clustered: 8 tight far-apart clusters -> few cells probed
    centers = rng.normal(0, 1, size=(8, dim)) * 10
    rows = []
    for i, c in enumerate(centers):
        for j in range(40):
            v = c + rng.normal(0, 0.01, size=dim)
            rows.append((int(i * 100 + j), [float(x) for x in v]))
    emb_b = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q_b = emb_b.filter(F.col("vec_id") % 100 == 0)
    exact_b = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(
            emb_b, q_b, k=k
        ).collect()
    }
    got_b, stats_b = similarity.similarity_topk_ivf_auto(
        emb_b, q_b, k=k, n_centroids=8, with_stats=True
    )
    got_b = {(r.query_id, r.neighbor_id) for r in got_b.collect()}
    assert got_b == exact_b
    probed = {r.query_id: r.cells_probed for r in stats_b.collect()}
    assert probed and all(p < 8 for p in probed.values()), probed


def test_filtered_ann_chooser_and_branches(spark, sf_dir):
    """similarity_topk_filtered (VERDICT r13 item 4): the selectivity
    chooser picks pre for a selective predicate and post for a broad
    one; the pre branch is exact under the predicate; the post branch
    keeps only predicate survivors and meets the 0.95 floor."""
    from elb_log_to_mysql_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)

    sel_pred = F.col("label") == 3
    broad_pred = F.col("label") != 3
    m_sel, s_sel = similarity.choose_filter_strategy(emb, sel_pred)
    m_broad, s_broad = similarity.choose_filter_strategy(emb, broad_pred)
    assert m_sel == "pre" and s_sel < 0.25
    assert m_broad == "post" and s_broad > 0.25

    exact_sel = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(
            emb.filter(sel_pred), q, k=10
        ).collect()
    }
    got_sel = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_filtered(
            emb, q, sel_pred, k=10, method=m_sel
        ).collect()
    }
    assert got_sel == exact_sel  # pre branch is exact

    got_broad = similarity.similarity_topk_filtered(
        emb, q, broad_pred, k=10, method=m_broad, selectivity=s_broad
    )
    rows = got_broad.collect()
    # every returned neighbor satisfies the predicate
    bad = (
        got_broad.join(
            emb.filter(broad_pred).select(
                F.col("vec_id").alias("neighbor_id")
            ),
            "neighbor_id",
            "left_anti",
        ).count()
    )
    assert bad == 0
    exact_broad = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(
            emb.filter(broad_pred), q, k=10
        ).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(exact_broad & got) / len(exact_broad)
    assert recall >= 0.95, recall


def test_filtered_ann_cost_chooser_and_index_leg(spark, sf_dir):
    """VERDICT r14 item 4: the filtered-ANN chooser compares the
    predicate's selectivity against the post plan's REAL modeled scan
    fraction when one is in hand, and the post branch composes with
    the IVF index handoff (exact prune => the filtered result is
    exact whenever the over-fetch covers the survivors)."""
    from elb_log_to_mysql_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    broad_pred = F.col("label") != 3

    # real-cost rule: pre exactly when s <= fraction
    m_cheap, s = similarity.choose_filter_strategy(
        emb, broad_pred, post_scan_fraction=0.01
    )
    m_dear, _ = similarity.choose_filter_strategy(
        emb, broad_pred, post_scan_fraction=0.99
    )
    assert s > 0.5 and m_cheap == "post" and m_dear == "pre"

    idx = similarity.build_ivf_index(emb)
    assert 0.0 < idx["expected_scan_fraction"] <= 1.0
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_filtered(
            emb, q, broad_pred, k=10, method="post",
            selectivity=s, index=idx,
        ).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(
            emb.filter(broad_pred), q, k=10
        ).collect()
    }
    # ivf_auto is exact over the full corpus, so with the s-scaled
    # over-fetch the filtered top-k is exact here, not just >= floor
    assert got == exact and len(got) > 0
    idx["corpus"].unpersist()


def test_near_dedup_two_phase_equals_single_shot(spark, sf_dir, tmp_path):
    """VERDICT r13 item 5: the slice-partitioned two-phase pipeline
    must produce EXACTLY the single-shot operator's verified pair set
    (same bands, same skew cap, same Jaccard values)."""
    from elb_log_to_mysql_spark.operators import dedup
    from elb_log_to_mysql_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    single = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in dedup.near_dedup_minhash(docs).collect()
    }
    found, stats = dedup.near_dedup_minhash_two_phase(
        docs, str(tmp_path / "nd2p"), n_slices=3
    )
    got = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in found.collect()
    }
    assert got == single
    assert stats["pairs"] == len(single)
    assert stats["candidate_rows"] >= stats["pairs"]


def test_near_dedup_two_phase_skew_cap_recovery(spark, sf_dir, tmp_path):
    """Skew-cap recovery (VERDICT r14 item 3): with max_bucket=1 every
    multi-doc bucket is capped, so WITHOUT recovery the candidate set
    is empty — and with recover_max_bucket=1000 the dedicated
    recovery path alone must reproduce the single-shot pair set at
    cap 1000 exactly (the first-processed-collision ownership makes
    main+recovery a partition of the same pair set). Also pins the
    accounting: recovered buckets counted, nothing dropped."""
    from elb_log_to_mysql_spark.operators import dedup
    from elb_log_to_mysql_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    single = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in dedup.near_dedup_minhash(docs, max_bucket=1000).collect()
    }
    assert single  # the corpus actually has near-dup pairs

    bare, bare_stats = dedup.near_dedup_minhash_two_phase(
        docs, str(tmp_path / "bare"), n_slices=2, max_bucket=1
    )
    assert bare.count() == 0  # cap 1 drops every pair-bearing bucket
    assert bare_stats["dropped_buckets"] > 0

    rec, rec_stats = dedup.near_dedup_minhash_two_phase(
        docs,
        str(tmp_path / "rec"),
        n_slices=2,
        max_bucket=1,
        recover_max_bucket=1000,
        recover_batch_members=64,  # force multiple recovery batches
    )
    got = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9)) for r in rec.collect()
    }
    assert got == single
    assert rec_stats["recovered_buckets"] > 0
    assert rec_stats["dropped_buckets"] == 0
    import pytest

    with pytest.raises(ValueError, match="recover_max_bucket"):
        dedup.near_dedup_minhash_two_phase(
            docs, str(tmp_path / "bad"), max_bucket=10, recover_max_bucket=5
        )


def test_derive_lsh_params_clustered_picks_sublinear_config(spark):
    """Derived LSH controls (round 14 — the last fixed ANN constants):
    on a corpus with genuine narrow-angle cluster structure the
    derivation must choose a real (planes, tables) config with modeled
    scan fraction < 1, meet the recall floor vs brute force, and pay
    measurably fewer candidates than the gate-certified fixed (3, 24)
    config, whose expected scan fraction is 24/2^3 = 3x the corpus."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim, n_base, n_clone, k = 16, 40, 30, 5
    base = rng.normal(0, 10.0, size=(n_base, dim))
    rows = []
    for i in range(n_base):
        for j in range(n_clone):
            vec = base[i] + rng.normal(0, 0.05, size=dim)
            rows.append((int(i * 100 + j), [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 100 == 0)

    p = similarity.derive_lsh_params(
        emb, q, k=k, floor=0.95, sample_rows=n_base * n_clone,
        query_sample=n_base, max_planes=16,
    )
    assert p["method"] == "lsh"
    assert p["est_scan_fraction"] < 1.0
    # the fixed config's cost under the same measured geometry
    assert similarity.lsh_scan_fraction(p["p_rand"], 3, 24) >= 1.0
    import json as _json

    _json.dumps(p)  # the serving contract: storable next to the index

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(emb, q, k=k).collect()
    }
    derived, dstats = similarity.similarity_topk_lsh_auto(
        emb, q, k=k, dim=dim, with_stats=True, params=p
    )
    got = {(r.query_id, r.neighbor_id) for r in derived.collect()}
    assert len(exact & got) / len(exact) >= 0.95
    _, fstats = similarity.similarity_topk_lsh(
        emb, q, k=k, dim=dim, n_planes=3, n_tables=24, with_stats=True
    )
    d_cand = dstats.agg(F.sum("candidates")).collect()[0][0]
    f_cand = fstats.agg(F.sum("candidates")).collect()[0][0]
    assert d_cand < f_cand


def test_derive_lsh_params_refuses_on_orthogonal_corpus(spark):
    """Refusal arithmetic: with true neighbors at theta = 90deg
    (orthonormal basis vectors — every pairwise cosine exactly 0) the
    per-plane collision rate of a NEIGHBOR equals a random pair's, so
    any table count covering the recall floor must scan >= the whole
    corpus. The derivation must refuse (RuntimeWarning + brute), and
    the auto operator must fall back to the exact scan with recall 1.0
    and full-corpus candidate telemetry."""
    import numpy as np
    import pytest

    dim = 64
    eye = np.eye(dim)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in eye[i]]) for i in range(dim)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") < 4)
    with pytest.warns(RuntimeWarning, match="falling back"):
        p = similarity.derive_lsh_params(
            emb, q, k=5, floor=0.95, sample_rows=dim, query_sample=4
        )
    assert p["method"] == "brute"
    assert p["n_planes"] is None and p["n_tables"] is None

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(emb, q, k=5).collect()
    }
    out, stats = similarity.similarity_topk_lsh_auto(
        emb, q, k=5, dim=dim, with_stats=True, params=p
    )
    got = {(r.query_id, r.neighbor_id) for r in out.collect()}
    assert got == exact  # brute fallback IS the exact answer
    for r in stats.collect():
        assert r.candidates == dim  # full-corpus scan, priced honestly


def test_derive_lsh_params_validation(spark):
    import pytest

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="floor"):
        similarity.derive_lsh_params(emb, emb, floor=1.0)
    with pytest.raises(ValueError, match="sample_rows"):
        similarity.derive_lsh_params(emb, emb, k=5, sample_rows=5)
    with pytest.raises(ValueError, match="design_floor"):
        similarity.lsh_config_search(0.9, 0.5, 0.0, 16, 64)
    with pytest.raises(ValueError, match="design_floor"):
        similarity.lsh_config_search(0.9, 0.5, 1.0, 16, 64)
    one = emb.filter(F.col("vec_id") == 0)
    with pytest.raises(ValueError, match="corpus sample too small"):
        # the sole corpus row is the query itself: no query reaches
        # rank k, so the angle estimate has no data to stand on
        similarity.derive_lsh_params(
            one, one, k=1, sample_rows=2, query_sample=2
        )


def test_derive_ivf_cells_gate_scale_identity_and_validation():
    """At gate scale the clamps land exactly on the certified fixed
    default (16 cells for the 500-row embeddings table) — deriving
    changes nothing where the fixed value was already right. Scale
    values and input validation pinned alongside."""
    import pytest

    assert similarity.derive_ivf_cells(500) == 16
    assert similarity.derive_ivf_cells(640_000) == 2263  # 320x replica
    assert similarity.derive_ivf_cells(10**9) == 4096  # broadcast cap
    with pytest.raises(ValueError, match="n_rows"):
        similarity.derive_ivf_cells(0)
    with pytest.raises(ValueError, match="expected_probes"):
        similarity.derive_ivf_cells(500, expected_probes=0)
    with pytest.raises(ValueError, match="min_cells"):
        similarity.derive_ivf_cells(500, min_cells=10, max_cells=5)


def test_ivf_auto_prebuilt_index_equals_inline(spark, sf_dir):
    """build_ivf_index + index= handoff must return exactly the inline
    path's results (same centroids => same sound prune => same exact
    top-k), serve MULTIPLE query batches from one build, and never
    release the caller-owned cached corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = similarity.build_ivf_index(emb)  # derived cells (= 16 here)
    assert idx["centers"].shape[0] == similarity.derive_ivf_cells(
        emb.count()
    )
    for lo, hi in ((0, 10), (10, 20)):
        q = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        )
        inline = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in similarity.similarity_topk_ivf_auto(
                emb, q, k=5, centroids=idx["centers"]
            ).collect()
        }
        prebuilt = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in similarity.similarity_topk_ivf_auto(
                emb, q, k=5, index=idx
            ).collect()
        }
        assert prebuilt == inline and len(prebuilt) > 0
    import gc

    gc.collect()
    assert idx["corpus"].is_cached  # query calls never release the index
    idx["corpus"].unpersist()


def test_ivf_index_persist_reload_fresh_session(spark, sf_dir, tmp_path):
    """persist_ivf_index -> load_ivf_index in a FRESH SparkSession
    (newSession: clean session state, nothing shared with the build
    session's caches/temp views) must serve the exact same answers as
    the in-memory index — the restart-survival contract of the
    durable layout. Also pins the artifact shape: exact float64
    centroid round trip, stored radii, manifest validation."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    idx = similarity.build_ivf_index(emb)
    path = str(tmp_path / "ivf_index")
    info = similarity.persist_ivf_index(idx, path)
    assert info["n_cells"] == idx["centers"].shape[0]
    assert info["n_rows"] == emb.count()

    mem_rows = {
        (r.query_id, r.neighbor_id, r.rank, r.cos)
        for r in similarity.similarity_topk_ivf_auto(
            emb, q, k=5, index=idx
        ).collect()
    }

    fresh = spark.newSession()
    idx2 = similarity.load_ivf_index(fresh, path)
    # bit-exact geometry round trip: parquet doubles, not lossy JSON
    assert np.array_equal(idx2["centers"], idx["centers"])
    assert idx2["n_rows"] == info["n_rows"] and len(idx2["radii"]) > 0
    q2 = load_table(fresh, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    disk = similarity.similarity_topk_ivf_auto(
        None, q2, k=5, index=idx2
    )
    disk_rows = {
        (r.query_id, r.neighbor_id, r.rank, r.cos) for r in disk.collect()
    }
    assert disk_rows == mem_rows and len(disk_rows) > 0
    # the serving call recorded the partition list it pruned the scan to
    assert 0 < len(disk._ivf_probed_cells) <= idx2["centers"].shape[0]

    # manifest validation fails loudly on wrong/foreign paths
    import pytest

    with pytest.raises(Exception):
        similarity.load_ivf_index(fresh, str(tmp_path / "nope"))
    idx["corpus"].unpersist()


def test_ivf_index_persist_pq_artifacts(spark, sf_dir, tmp_path):
    """The durable index carries the FULL serving-control set: PQ
    codebooks round-trip float64-exact and the stored rerank depth
    reloads, so the IVFPQ/ADC path serves from the reloaded artifacts
    with answers identical to the originals'."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    idx = similarity.build_ivf_index(emb)
    cb = similarity.train_pq_codebooks(emb)
    path = str(tmp_path / "ivfpq_index")
    similarity.persist_ivf_index(idx, path, codebooks=cb, rerank_depth=4)
    idx2 = similarity.load_ivf_index(spark, path)
    assert np.array_equal(idx2["codebooks"], cb)
    assert idx2["rerank_depth"] == 4

    def serve(centers, books, depth):
        return {
            (r.query_id, r.neighbor_id, r.rank)
            for r in similarity.similarity_topk_ivfpq(
                emb, q, k=5, centroids=centers, codebooks=books,
                rerank_factor=depth,
            ).collect()
        }

    orig = serve(idx["centers"], cb, 4)
    reloaded = serve(idx2["centers"], idx2["codebooks"], idx2["rerank_depth"])
    assert orig == reloaded and len(orig) > 0
    idx["corpus"].unpersist()


def test_near_dedup_audit_empty_inputs(spark):
    """The shared audit frame over two EMPTY pair sets must reproduce
    the pre-r15 two-branch row — n_exact=0, false_pairs=0,
    recall_floor_met=true — not NULLs: sum() over the empty full-outer
    join is NULL without the outer coalesce (VERDICT r15 item 4), and
    a zero-near-dup corpus is a legitimate production input."""
    from elb_log_to_mysql_spark.queries import _near_dedup_audit

    empty = spark.createDataFrame(
        [], "doc_id_a bigint, doc_id_b bigint"
    )
    out = _near_dedup_audit(empty, empty)
    [row] = out.collect()
    assert row.n_exact == 0
    assert row.false_pairs == 0
    assert row.recall_floor_met is True
    # dtypes unchanged from the populated path (oracle schema contract)
    assert dict(out.dtypes) == {
        "n_exact": "bigint",
        "false_pairs": "bigint",
        "recall_floor_met": "boolean",
    }
