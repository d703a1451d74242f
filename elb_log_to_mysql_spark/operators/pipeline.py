"""Training-data pipeline operators: PII scrubbing, benchmark
decontamination, deterministic global shuffle, stratified sampling.

The LLM-corpus extension surface beyond dedup/similarity (SURVEY
§2.3): the reference engine has no analog (its one pipeline is
scan→parse→project→sink — /root/reference/etl_elb_log_to_mysql.py:162-177);
these are the operations a 100 TB corpus build needs between ingest
and tokenization.

Scale notes baked into each operator:

- `pii_scrub` is pure `regexp_replace`/`regexp_extract_all` column
  expressions — whole-stage codegen, zero shuffles, scan-bound.
- `decontaminate` broadcasts the benchmark n-gram set (benchmarks are
  MB-scale even when the corpus is 100 TB) as one array row, so the
  corpus side never shuffles: one `arrays_overlap` filter drops the
  contaminated docs.
- `shuffle_index` produces a total deterministic permutation without
  a single-partition global sort: range-repartition by hash key, a
  per-partition count pass, a cumulative-offset table (tiny: one row
  per partition), and a per-partition rank. This is the standard
  two-pass distributed enumeration — every stage is bounded by
  partition size, never by total rows.
- `stratified_sample` filters on an md5 threshold — deterministic,
  joinable across tables/runs (same row always sampled), no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.operators.dedup import word_shingles, ws_tokens
from elb_log_to_mysql_spark.session import ensure_min_partitions

# Patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB oracle): no lookaround, no backrefs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[- ]\d{3}[- ]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_scrub(df: DataFrame) -> DataFrame:
    """Redact PII spans into `clean_text` and count redactions per
    category.

    Counts are taken on the ORIGINAL text (before any replacement so
    categories don't shadow each other); replacements then apply in
    fixed dict order — email before ipv4 so a host-part like
    `user@10.0.0.1` is consumed by the email rule, ssn before phone
    so `123-45-6789` never half-matches the phone rule.
    """
    out = ensure_min_partitions(df)
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))),
        )
    clean: Column = F.col("text")
    for name, pat in PII_PATTERNS.items():
        clean = F.regexp_replace(clean, pat, f"<{name.upper()}>")
    return out.withColumn("clean_text", clean)


def _bench_split(
    documents: DataFrame,
    bench_mod: int,
    ngram: int,
    benchmark: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(bench_grams, train): the distinct benchmark word `ngram`-grams
    (one `gram` column) and the training docs to screen against them.

    The benchmark set is either an explicit `benchmark` frame (the
    production shape: the eval suite is its own fixed corpus, and
    `documents` is pure training data — every row of it is screened)
    or, when `benchmark` is None, the in-corpus stand-in: every doc
    whose id ≡ 0 mod `bench_mod` is treated as benchmark and excluded
    from the training side."""
    # the shingle derivation is compute-dense; a small-file scan must
    # not pin it to one task (session.ensure_min_partitions is a no-op
    # on already-wide inputs)
    documents = ensure_min_partitions(documents)
    gram_col = F.explode(word_shingles("text", ngram)).alias("gram")
    if benchmark is not None:
        return benchmark.select(gram_col).distinct(), documents
    is_bench = (F.col("doc_id") % bench_mod) == 0
    return (
        documents.filter(is_bench).select(gram_col).distinct(),
        documents.filter(~is_bench),
    )


def decontaminate(
    documents: DataFrame,
    bench_mod: int = 97,
    ngram: int = 5,
    benchmark: DataFrame | None = None,
) -> DataFrame:
    """Drop training docs sharing any word n-gram with the benchmark
    set (`_bench_split`: an explicit `benchmark` frame, or the
    id ≡ 0 mod `bench_mod` stand-in). Returns the clean training docs.

    The deduplicated benchmark gram set is collected into ONE
    broadcast array row and the corpus is filtered with
    `arrays_overlap` — zero corpus-side shuffles, no gram explode, one
    pass over the corpus. Eval suites are MB-scale even at 100 TB
    corpus scale; a gram set too large for one array value is
    `decontaminate_bloom`'s case.
    """
    bench_grams, train = _bench_split(documents, bench_mod, ngram, benchmark)
    bench_arr = bench_grams.agg(F.collect_set("gram").alias("_bench_grams"))
    return (
        train.join(F.broadcast(bench_arr))
        .filter(~F.arrays_overlap(word_shingles("text", ngram), F.col("_bench_grams")))
        .drop("_bench_grams")
    )


def contamination_score(
    documents: DataFrame,
    bench_mod: int = 97,
    ngram: int = 5,
    max_frac: float = 0.05,
    benchmark: DataFrame | None = None,
) -> DataFrame:
    """Fraction-based benchmark contamination scoring — the
    production refinement of `decontaminate`'s binary any-overlap
    rule: a 10k-gram document sharing ONE boilerplate 5-gram with an
    eval suite is not leaked eval content, but a short doc sharing
    half its grams is. Scores every training doc with its distinct
    n-gram overlap fraction against the benchmark gram set and flags
    `keep` = (fraction <= max_frac); gram-less docs (shorter than the
    n-gram width) have nothing to leak and keep.

    Same scale shape as `decontaminate`: the deduplicated benchmark
    gram set collapses to ONE broadcast array row (eval suites are
    MB-scale at any corpus size) and the score is an in-row
    `array_intersect` size — zero corpus-side shuffles, one scan. The
    fraction is a single IEEE double division of two ints, so the
    oracle replays it bit-exactly.

    Returns (doc_id, n_grams, n_hit, contamination_frac, keep), one
    row per training doc (benchmark docs excluded, as in
    `decontaminate`).
    """
    bench_grams, train = _bench_split(documents, bench_mod, ngram, benchmark)
    bench_arr = bench_grams.agg(F.collect_set("gram").alias("_bench"))
    grams = word_shingles("text", ngram)
    n_grams = F.size(grams)
    n_hit = F.size(F.array_intersect(grams, F.col("_bench")))
    return (
        train.join(F.broadcast(bench_arr))
        .select(
            "doc_id",
            n_grams.cast("long").alias("n_grams"),
            n_hit.cast("long").alias("n_hit"),
            F.when(
                n_grams > 0,
                n_hit.cast("double") / n_grams.cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("contamination_frac"),
        )
        .withColumn("keep", F.col("contamination_frac") <= max_frac)
    )


def decontaminate_fraction(
    documents: DataFrame,
    bench_mod: int = 97,
    ngram: int = 5,
    max_frac: float = 0.05,
    benchmark: DataFrame | None = None,
) -> DataFrame:
    """Drop training docs whose benchmark n-gram overlap FRACTION
    exceeds `max_frac` (see `contamination_score`). Returns the
    surviving training docs with their original columns."""
    keep_ids = (
        contamination_score(documents, bench_mod, ngram, max_frac, benchmark)
        .filter("keep")
        .select("doc_id")
    )
    return documents.join(keep_ids, "doc_id", "left_semi")


def _bloom_words(grams: DataFrame, num_bits: int, num_hashes: int) -> list[int]:
    """Build a Bloom filter's 64-bit words from a gram DataFrame,
    distributively: k bit positions per gram (seeded xxhash64 mod m),
    OR-aggregated per word — the only driver-side materialization is
    the dense m/64-long word list (16 KiB per 2^17 bits).
    """
    words = (
        grams.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.lit(i), F.col("gram")), F.lit(num_bits))
                        for i in range(num_hashes)
                    ]
                )
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            # call_function: the Python shiftleft wrapper requires an
            # int literal shift; the SQL function takes a column
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    dense = [0] * (num_bits // 64)
    for r in words:
        dense[r["w"]] = r["bits"]
    return dense


def decontaminate_bloom(
    documents: DataFrame,
    bench_mod: int = 97,
    ngram: int = 5,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Bloom-pruned decontamination — the 100 TB strategy when the
    benchmark gram set outgrows a broadcast array but its BLOOM still
    fits anywhere (constant m bits regardless of corpus size).

    Three stages, exact end-to-end semantics (identical to
    `decontaminate`, so it shares the exact oracle):
    1. build the bloom over benchmark grams distributively
       (`_bloom_words`), ship it as ONE array<long> row — data, not
       plan literals — broadcast-joined to the corpus;
    2. probe JVM-side: a doc is a CANDIDATE iff any of its grams has
       all k seeded-hash bits set — pure built-in expressions
       (xxhash64/pmod/shiftleft/bitwiseAND inside exists), no Python,
       no explode, no shuffle. False negatives are impossible, so
       docs pruned here are definitively clean;
    3. exact verification of the (few) candidates: explode their
       grams, semi-join the (broadcast) benchmark gram set, anti-join
       the contaminated ids — bloom false positives die here.

    At fpp ~1% the explode+join input shrinks from the whole corpus to
    ~(true contaminated + 1% of clean), which is what makes the exact
    check affordable at 100 TB.
    """
    spark = documents.sparkSession
    bench_grams, train = _bench_split(documents, bench_mod, ngram)

    dense = _bloom_words(bench_grams, num_bits, num_hashes)
    bloom_df = spark.createDataFrame([(dense,)], "_bloom: array<bigint>")

    def bit_set(pos: Column) -> Column:
        word = F.get(F.col("_bloom"), (pos / 64).cast("int"))  # 0-based
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
        )
        return word.bitwiseAND(mask) != 0

    def gram_hits(g: Column) -> Column:
        cond = F.lit(True)
        for i in range(num_hashes):
            pos = F.pmod(F.xxhash64(F.lit(i), g), F.lit(num_bits))
            cond = cond & bit_set(pos)
        return cond

    probed = train.join(F.broadcast(bloom_df)).withColumn(
        "_maybe", F.exists(word_shingles("text", ngram), gram_hits)
    ).drop("_bloom")
    clean_fast = probed.filter(~F.col("_maybe")).drop("_maybe")
    candidates = probed.filter(F.col("_maybe")).drop("_maybe")

    contaminated = (
        candidates.select(
            "doc_id", F.explode(word_shingles("text", ngram)).alias("gram")
        )
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # contaminated ids are usually few but O(corpus) in the worst case
    # (a benchmark gram that is a common phrase) — no broadcast hint;
    # AQE broadcasts the set only when it is actually small
    verified_clean = candidates.join(contaminated, "doc_id", "left_anti")
    return clean_fast.unionByName(verified_clean)


def _bucketed_global_cumsum(
    df: DataFrame, key_col: str, salt: str, value: Column, out_col: str
) -> DataFrame:
    """EXCLUSIVE global prefix-sum of `value` under ORDER BY
    (md5(key|salt), key) — without a single-partition global sort.

    A naive `SUM(…) OVER (ORDER BY …)` collapses to ONE partition —
    the classic global-sort scalability trap. Instead the hash key's
    2-char hex prefix defines 256 contiguous key-range buckets (a pure
    function of the key — no sampled range boundaries that could drift
    between passes):

    1. sum `value` per bucket (one narrow agg);
    2. exclusive prefix-sum of the 256 bucket totals — a window over
       ≤ 256 rows, trivially single-partition by design;
    3. per-bucket running sum + broadcast-joined bucket offset =
       global prefix-sum (bucket is a prefix of the sort key, so
       (bucket, skey) order IS the global skey order).

    Every heavy stage is bounded by bucket size (~rows/256, md5 is
    uniform); the result is a pure function of (key, salt),
    independent of cluster layout or partition count. Internal columns
    `_skey`/`_bkt` are left attached for callers that need the sort
    key; callers drop them.
    """
    skey = F.md5(F.concat_ws("|", F.col(key_col).cast("string"), F.lit(salt)))
    keyed = df.withColumn("_skey", skey).withColumn(
        "_bkt", F.substring("_skey", 1, 2)
    )
    totals = keyed.groupBy("_bkt").agg(F.sum(value).alias("_btotal"))
    # The one unpartitioned window in the engine — over the ≤256 bucket
    # totals, single-partition BY DESIGN (that is the whole point of
    # bucketing). The constant partition key makes that explicit and
    # keeps WindowExec from logging a scale warning that does not apply.
    offsets = totals.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_btotal").over(
                Window.partitionBy(F.lit(0))
                .orderBy("_bkt")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_bkt", "_offset")
    local = F.sum(value).over(
        Window.partitionBy("_bkt")
        .orderBy("_skey", key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return keyed.join(F.broadcast(offsets), "_bkt").withColumn(
        out_col, (F.col("_offset") + F.coalesce(local, F.lit(0))).cast("long")
    )


def shuffle_index(
    df: DataFrame,
    key_col: str,
    salt: str = "seed42",
) -> DataFrame:
    """Deterministic global training-order permutation: adds `pos` =
    the row's rank under ORDER BY (md5(key|salt), key), 0-based —
    the exclusive global cumsum of 1 (see _bucketed_global_cumsum
    for the scale argument)."""
    return _bucketed_global_cumsum(df, key_col, salt, F.lit(1), "pos").drop(
        "_skey", "_bkt"
    )


def sequence_pack(
    df: DataFrame,
    key_col: str,
    seq_len: int = 2048,
    salt: str = "seed42",
) -> DataFrame:
    """Contiguous sequence packing: concatenate the corpus in
    deterministic shuffle order and chunk into fixed token budgets —
    the concat-and-chunk step every LLM training pipeline runs before
    tokenized examples hit the trainer.

    Adds per doc: `n_tokens` (whitespace tokens), `seq_id` (which
    fixed-size sequence the doc STARTS in) and `seq_offset` (token
    offset within that sequence). Built on the bucketed two-pass
    prefix-sum, so there is no single-partition sort at any size;
    the assignment is a pure function of (key, salt, seq_len).
    """
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    out = _bucketed_global_cumsum(
        df.withColumn("n_tokens", n_tokens), key_col, salt, F.col("n_tokens"), "_start"
    )
    return (
        out.withColumn("seq_id", F.floor(F.col("_start") / seq_len))
        .withColumn("seq_offset", F.col("_start") % seq_len)
        .drop("_skey", "_bkt", "_start")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    thresholds: dict[str, str],
    default_threshold: str = "8",
    salt: str = "seed42",
) -> DataFrame:
    """Deterministic per-stratum downsampling by md5-prefix threshold.

    A row survives iff md5(key|salt) < threshold(stratum), where the
    threshold is a hex-string prefix: '2' keeps ~2/16 of rows, '8'
    ~half. Hash-threshold sampling (vs `sample()`) is reproducible
    across runs AND consistent across tables sharing the key — the
    property a corpus rebalance needs so every derived table keeps
    the same row subset. Pure filter: no shuffle, pushes nothing
    off-scan.
    """
    h = F.md5(F.concat_ws("|", F.col(key_col).cast("string"), F.lit(salt)))
    thr: Column = F.lit(default_threshold)
    for stratum, t in thresholds.items():
        thr = F.when(F.col(strata_col) == stratum, F.lit(t)).otherwise(thr)
    return df.filter(h < thr)


def _stratified_bucketed_rank(
    df: DataFrame,
    strata_col: str,
    bucket_col: str,
    order_cols: list[str],
    out_col: str,
) -> DataFrame:
    """Exclusive 0-based per-stratum rank under ORDER BY
    (bucket_col, *order_cols) WITHOUT a per-stratum global-sort
    window — the shared two-pass machinery behind `mixture_sample`
    (hash-prefix buckets) and `curriculum_bins` (value buckets),
    generalizing `_bucketed_global_cumsum`'s scale argument to
    stratified ranking:

    1. count rows per (stratum, bucket) — one narrow agg;
    2. exclusive prefix-sum of the per-stratum bucket totals — a
       window over the (small) distinct-bucket set per stratum;
    3. bucket-local row_number + broadcast bucket offset.

    Precondition: bucket_col must be a PREFIX of the intended sort
    order (hash prefix of the hash key; the ranked value itself), so
    (bucket, order_cols) order IS the stratum order. Every heavy
    stage is bounded by bucket size, never stratum size.
    """
    totals = df.groupBy(strata_col, bucket_col).agg(
        F.count("*").alias("_bn")
    )
    offsets = totals.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_bn").over(
                Window.partitionBy(strata_col)
                .orderBy(bucket_col)
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(strata_col, bucket_col, "_offset")
    local = (
        F.row_number().over(
            Window.partitionBy(strata_col, bucket_col).orderBy(*order_cols)
        )
        - 1
    )
    return (
        df.join(F.broadcast(offsets), [strata_col, bucket_col])
        .withColumn(out_col, (F.col("_offset") + local).cast("long"))
        .drop("_offset")
    )


def train_eval_split(
    df: DataFrame,
    key_col: str,
    eval_per_4096: int = 41,
    test_per_4096: int = 41,
    salt: str = "split1",
) -> DataFrame:
    """Deterministic three-way train/eval/test assignment by hash
    band — the split every training pipeline needs, with the two
    properties `randomSplit` lacks: the assignment is a pure function
    of (key, salt) so it is REPRODUCIBLE across runs, cluster
    layouts, and engine versions, and it is CONSISTENT across tables
    sharing the key (a doc's embeddings, scores, and text land in the
    same split without any join).

    The first 3 hex chars of md5(key|salt) define 4096 bands;
    `eval_per_4096` bands go to eval, the next `test_per_4096` to
    test, the rest to train (41/4096 ≈ 1%). Integer band arithmetic
    (not a float comparison) so the SQL replay is exact. Adds a
    `split` column; pure projection, no shuffle, nothing collected.
    """
    if eval_per_4096 + test_per_4096 >= 4096:
        raise ValueError("eval + test bands must leave room for train")
    band = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col(key_col).cast("string"), F.lit(salt))),
            1,
            3,
        ),
        16,
        10,
    ).cast("int")
    return df.withColumn(
        "split",
        F.when(band < eval_per_4096, F.lit("eval"))
        .when(band < eval_per_4096 + test_per_4096, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    quotas: dict[str, int],
    salt: str = "seed42",
) -> DataFrame:
    """EXACT-quota mixture sampling: take exactly `quotas[stratum]`
    rows per stratum, chosen in deterministic md5(key|salt) order.

    The data-mixing step of a corpus build — "this training mix is
    50 GB web + 30 GB wiki + 20 GB books" — needs exact counts, which
    `stratified_sample`'s hash-threshold (a keep-RATE) cannot hit.
    A per-stratum `row_number` window would shuffle every row of a
    stratum into one partition (web IS the skewed stratum); instead
    the rank is a stratified variant of the bucketed two-pass prefix
    sum (`_bucketed_global_cumsum`): the hash's 2-hex-char prefix
    defines 256 key-range buckets per stratum, so

    1. count rows per (stratum, bucket) — one narrow agg;
    2. exclusive prefix-sum of bucket counts per stratum — a window
       over ≤ 256 rows per stratum, small by design;
    3. rank within (stratum, bucket) + broadcast bucket offset =
       exact per-stratum rank, every heavy stage bounded by
       ~stratum_rows/256.

    Strata absent from `quotas` are dropped (quota 0). Adds
    `mix_rank` (0-based selection order within the stratum); the
    result is a pure function of (key, salt, quotas) — reproducible
    across runs, cluster layouts, and partition counts.
    """
    skey = F.md5(F.concat_ws("|", F.col(key_col).cast("string"), F.lit(salt)))
    keyed = df.withColumn("_skey", skey).withColumn(
        "_bkt", F.substring("_skey", 1, 2)
    )
    ranked = _stratified_bucketed_rank(
        keyed, strata_col, "_bkt", ["_skey", key_col], "mix_rank"
    )
    quota: Column = F.lit(0)
    for stratum, n in quotas.items():
        quota = F.when(F.col(strata_col) == stratum, F.lit(n)).otherwise(quota)
    return ranked.filter(F.col("mix_rank") < quota).drop("_skey", "_bkt")


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    budgets: dict[str, int],
    salt: str = "seed42",
) -> DataFrame:
    """TOKEN-budget mixture sampling: per stratum, take documents in
    deterministic md5(key|salt) order until the stratum's token
    budget is filled. Training mixes are token budgets ("300 B web
    tokens + 30 B code tokens"), not document counts — this is
    `mixture_sample`'s semantics with the quota measured in the unit
    the training run actually consumes. A document is selected iff
    the tokens taken BEFORE it are still under budget, so the doc
    that crosses the boundary is included and the fill never
    undershoots; strata absent from `budgets` are dropped.

    Same scale shape as `_bucketed_global_cumsum`, stratified: the
    hash's 2-hex-char prefix gives 256 key-range buckets per stratum
    — per-(stratum, bucket) token totals, an exclusive prefix-sum
    over the ≤256 bucket totals per stratum, and a bucket-local
    running sum. No stratum-wide sort window (web IS the skewed
    stratum), and the selection is a pure function of
    (key, salt, budgets) — partitioning-invariant, so the emitted
    `tokens_before` column replays exactly in the SQL oracle's
    ROWS-window formulation.
    """

    # NULL text counts as 0 tokens: bare size() yields -1 for a NULL
    # array (legacy sizeOfNull), which would subtract from the running
    # cumsum and shift tokens_before for every later doc in the
    # stratum. Pinned to 0 here and as COALESCE(len(...), 0) in the
    # SQL oracles.
    n_tok = (
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(ws_tokens(F.col("text"))))
        .cast("long")
    )
    base = ensure_min_partitions(df).select(
        key_col, strata_col, n_tok.alias("n_tokens")
    )
    skey = F.md5(F.concat_ws("|", F.col(key_col).cast("string"), F.lit(salt)))
    keyed = base.withColumn("_skey", skey).withColumn(
        "_bkt", F.substring("_skey", 1, 2)
    )
    totals = keyed.groupBy(strata_col, "_bkt").agg(
        F.sum("n_tokens").alias("_btotal")
    )
    offsets = totals.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_btotal").over(
                Window.partitionBy(strata_col)
                .orderBy("_bkt")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(strata_col, "_bkt", "_offset")
    local = F.sum("n_tokens").over(
        Window.partitionBy(strata_col, "_bkt")
        .orderBy("_skey", key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    budget: Column = F.lit(0)
    for stratum, b in budgets.items():
        budget = F.when(F.col(strata_col) == stratum, F.lit(b)).otherwise(budget)
    return (
        keyed.join(F.broadcast(offsets), [strata_col, "_bkt"])
        .withColumn(
            "tokens_before",
            (F.col("_offset") + F.coalesce(local, F.lit(0))).cast("long"),
        )
        .filter(F.col("tokens_before") < budget)
        .select(key_col, strata_col, "n_tokens", "tokens_before")
    )


def source_overlap(
    documents: DataFrame,
    strata_col: str = "source",
    ngram: int = 5,
) -> DataFrame:
    """Pairwise cross-source n-gram contamination matrix: for every
    source pair, how many distinct word n-grams they share, and the
    containment ratio vs the smaller side.

    The corpus-curation diagnostic run before mixing sources: a high
    containment between a web crawl and a benchmark-derived source
    means the mix double-counts (or leaks eval) content. Shuffles
    16-hex-char md5 fingerprints instead of raw gram strings — the
    distinct and the self-join move fixed-width keys, not text — and
    the per-source gram-set sizes join back as a broadcast (the
    matrix is |sources|², tiny). A fingerprint collision would fold
    two grams in BOTH engines identically, so the count is still
    deterministic. The self-join fans out k² pairs per fingerprint
    shared by k sources — bounded by |sources|, not corpus size.
    """
    docs = ensure_min_partitions(documents)
    grams = (
        docs.select(
            F.col(strata_col).alias("src"),
            F.explode(word_shingles("text", ngram)).alias("gram"),
        )
        .select("src", F.substring(F.md5("gram"), 1, 16).alias("fp"))
        .distinct()
    )
    sizes = grams.groupBy("src").agg(F.count("*").alias("n_grams"))
    a, b = grams.alias("a"), grams.alias("b")
    shared = (
        a.join(b, "fp")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("src").alias("src_a"),
                                     F.col("n_grams").alias("n_grams_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("src").alias("src_b"),
                                     F.col("n_grams").alias("n_grams_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_grams_a",
            "n_grams_b",
            (
                F.col("n_shared").cast("double")
                / F.least("n_grams_a", "n_grams_b")
            ).alias("containment"),
        )
    )


def corpus_pipeline(
    documents: DataFrame,
    quotas: dict[str, int],
    bench_mod: int = 97,
    ngram: int = 5,
    salt: str = "seed42",
    benchmark: DataFrame | None = None,
) -> DataFrame:
    """The END-TO-END curation chain as ONE DataFrame expression:

        quality gate -> exact dedup -> benchmark decontamination ->
        exact-quota mixture -> deterministic global training order

    — i.e. the whole pre-training data build the individual operators
    implement, composed lazily with each stage's id-set persisted
    (the curation_audit structure: the text-heavy derivations
    materialize ONCE however many join branches consume them, a
    following audit reuses them through Spark's plan cache, and the
    sf0.01 oracle-gate wall fell 72.4 -> 13.6 s with no semantic
    change — SCALE.md round-9). Every stage is the deterministic variant
    (Gopher-rule gate, min-id fingerprint survivor, gram-set
    decontamination, hash-order quota, bucketed global shuffle rank),
    so the FINAL training order is a pure function of (corpus,
    quotas, salt) — reproducible end to end and value-checkable
    against a single SQL replay of the full chain.

    Returns (doc_id, source, mix_rank, pos): the selected corpus in
    training order. Each stage's scale posture is documented on its
    own operator; composition adds nothing that shuffles the corpus
    beyond what the stages themselves do.

    `benchmark`: the PRODUCTION decontamination shape — an explicit
    eval-suite frame (with `text`), fixed-size no matter how the
    corpus grows; every training doc is screened against it. Without
    it, the id ≡ 0 mod `bench_mod` in-corpus stand-in applies — fine
    on organic corpora, but ill-posed under clone replication (a
    clone of almost every text eventually lands on the residue and
    poisons the gram set; the 160x probe measured exactly that —
    SCALE.md round-9).
    """
    from elb_log_to_mysql_spark.operators.dedup import (
        content_fingerprint,
        exact_dedup,
    )
    from elb_log_to_mysql_spark.operators.textops import quality_filter
    from elb_log_to_mysql_spark.session import unpersist_on_gc

    # Persist policy (r15 re-measured; SCALE.md round-9 for the
    # original knee): a cache is placed exactly where a subtree has
    # MORE THAN ONE consumer, and nowhere else.
    # - kept_ids: the quality gate's id-set (narrow).
    # - sel: the selected (doc_id, source) set. mixture_sample and
    #   shuffle_index each consume their input twice (bucket-count
    #   pass + rank pass of the two-pass prefix sum), so without this
    #   cache the whole dedup+decontamination chain re-executes up to
    #   4x. Caching `sel` instead of the intermediate surv/clean
    #   id-sets (the round-9 layout) truncates those re-executions
    #   AND drops two cache materializations — measured 4.72 -> 3.90 s
    #   min at sf0.1 (interleaved A/B, output bit-equal).
    kept_ids = (
        quality_filter(documents).filter("keep").select("doc_id").persist()
    )
    kept = documents.join(kept_ids, "doc_id", "left_semi")
    surv_ids = exact_dedup(
        kept.withColumn("_fp", content_fingerprint("text")),
        ["_fp"],
        ["doc_id"],
    ).select("doc_id")
    clean_ids = decontaminate(
        documents, bench_mod=bench_mod, ngram=ngram, benchmark=benchmark
    ).select("doc_id")
    clean_surv = surv_ids.join(clean_ids, "doc_id", "left_semi")
    sel = (
        documents.join(clean_surv, "doc_id", "left_semi")
        .select("doc_id", "source")
        .persist()
    )
    mixed = mixture_sample(sel, "source", "doc_id", quotas, salt)
    out = shuffle_index(mixed, "doc_id", salt).select(
        "doc_id", "source", "mix_rank", "pos"
    )
    return unpersist_on_gc(out, kept_ids, sel)


def prewarm(spark, build, documents: DataFrame, sample_rows: int = 20000) -> float:
    """Session pre-warm: pay the per-JVM codegen/JIT/worker ramp on a
    SMALL sample so the first big evaluation runs near warm speed.

    The expression-dense pipelines (the Gopher gate, gram builders)
    spend their first evaluation on scale-INDEPENDENT session costs:
    Janino compilation of the whole-stage-codegen classes, HotSpot
    tiers ramping the generated methods, and Python/Arrow worker
    startup (measured ~74 s of the 80x corpus build's 98.8 s cold
    cell, SCALE.md round-10). Evaluating the SAME plan over a sample
    pays those once: the sample is written to scratch parquet so the
    plan shape (parquet scan -> identical operator tree, identical
    input schema) generates the identical codegen classes — the big
    run then hits the Janino cache and already-JIT'd methods, and the
    Python worker pool is up.

    `build` maps a documents-shaped DataFrame to the pipeline to
    warm; its result is evaluated with .count() and discarded.
    Returns the pre-warm's wall seconds (callers record it — the warm
    time is bought, not free). A long-running production job calls
    this once per session before the first heavy action; at 100 TB
    the sample cost is noise and the saving is per-executor-JVM.

    The scratch sample lives under `spark.sql.warehouse.dir` — a
    location every executor AND the driver can read — not a
    driver-local tempdir, which on a multi-node cluster would leave
    each executor's part files on its own machine and make the
    read-back fail or warm on an empty sample.
    """
    import gc
    import time
    import uuid

    t0 = time.monotonic()
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "/tmp/spark-graft-warehouse"
    )
    scratch = f"{warehouse.rstrip('/')}/_prewarm_{uuid.uuid4().hex[:12]}"
    sample = None
    try:
        documents.limit(sample_rows).write.mode("overwrite").parquet(scratch)
        sample = spark.read.parquet(scratch)
        build(sample).count()
    finally:
        # drop plan references so unpersist_on_gc finalizers release
        # any stage caches before the scratch files disappear
        sample = None
        gc.collect()
        _rm_path(spark, scratch)
    return time.monotonic() - t0


def _rm_path(spark, path: str) -> None:
    """Delete a (possibly remote) filesystem path through Hadoop's
    FileSystem API — works for local dirs, URIs, and object stores
    alike, so scratch cleanup matches wherever the warehouse lives.
    Best-effort: a leaked scratch dir is cheap; a crashed pre-warm is
    not."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(p, True)
    except Exception:
        pass


def incremental_accept(
    new_docs: DataFrame,
    existing_corpus: DataFrame | None,
    benchmark: DataFrame,
    ngram: int = 5,
    near_threshold: float | None = None,
) -> DataFrame:
    """Curate ONE new ingest batch against an already-curated corpus:
    quality gate -> within-batch exact dedup -> exact dedup vs the
    existing corpus -> benchmark decontamination (-> optional near-dup
    screen vs the corpus). Returns the accepted batch rows (original
    columns) — the docs that may join the corpus.

    Cost shape: every text-heavy stage (quality stats, shingling,
    fingerprinting the batch) touches only the BATCH; the existing
    corpus contributes a 16-byte fingerprint per doc to one
    batch-driven anti-join (in production that fingerprint is a stored
    column of the curated corpus — passing a frame that already has
    `_fp` skips recomputing it), and the benchmark gram set is a
    broadcast. Nothing joins corpus x corpus.

    EQUIVALENCE CONTRACT (pinned by tests/test_pipeline.py and the
    `incremental_corpus_pipeline` oracle): when batches arrive in
    nondecreasing `doc_id` order — the ingest-time invariant —
    folding batches through this operator accepts EXACTLY the set the
    one-shot `corpus_pipeline` chain accepts over the union. The two
    load-bearing facts: the min-id exact-dedup survivor of the union
    is always in the earliest batch containing that fingerprint, and
    clones are byte-identical up to case/whitespace, so quality and
    contamination verdicts agree across batches.

    `near_threshold`, when set, additionally drops batch docs whose
    n-gram Jaccard vs ANY existing-corpus doc reaches the threshold
    (`dedup.incremental_dedup`'s near path). Near-dup acceptance is
    order-DEPENDENT (A absorbs B ≠ B absorbs A), so no one-shot
    equivalence is claimed for that screen.
    """
    from elb_log_to_mysql_spark.operators.dedup import (
        content_fingerprint,
        exact_dedup,
        incremental_dedup,
    )
    from elb_log_to_mysql_spark.operators.textops import quality_filter

    batch = new_docs.join(benchmark.select("doc_id"), "doc_id", "left_anti")
    kept = batch.join(
        quality_filter(batch).filter("keep").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    surv = exact_dedup(
        kept.withColumn("_fp", content_fingerprint("text")),
        ["_fp"],
        ["doc_id"],
    )
    if existing_corpus is not None:
        ex_fp = (
            existing_corpus.select("_fp")
            if "_fp" in existing_corpus.columns
            else existing_corpus.select(content_fingerprint("text").alias("_fp"))
        )
        surv = surv.join(ex_fp, "_fp", "left_anti")
    clean = decontaminate(surv.drop("_fp"), ngram=ngram, benchmark=benchmark)
    if near_threshold is not None and existing_corpus is not None:
        verdicts = incremental_dedup(clean, existing_corpus, threshold=near_threshold)
        clean = clean.join(
            verdicts.filter("keep").select("doc_id"),
            "doc_id",
            "left_semi",
        )
    return clean


def incremental_corpus_pipeline(
    new_docs: DataFrame,
    existing_corpus: DataFrame | None,
    benchmark: DataFrame,
    quotas: dict[str, int],
    salt: str = "seed42",
    ngram: int = 5,
    near_threshold: float | None = None,
    accepted: DataFrame | None = None,
) -> DataFrame:
    """The daily-cadence corpus build: accept the new batch
    (`incremental_accept`), append it to the curated pool, and
    re-derive the training mixture and global order over the updated
    pool. Returns (doc_id, source, mix_rank, pos) — the same contract
    as `corpus_pipeline`, and (under the id-ordered-batches
    precondition) the same VALUES: the `incremental_corpus_pipeline`
    oracle replays the ONE-SHOT chain over the union, so its hash
    match is the incremental ≡ one-shot proof.

    The mixture/order stages are corpus-wide but touch only
    (doc_id, source) and 16-byte hashes — the text-heavy work stays
    batch-scaled. `existing_corpus` is the accepted POOL (pre-quota):
    quota selection is re-derived each run, so a doc cut by quota
    yesterday can enter today's mix when its stratum's quota allows.

    A caller that already ran `incremental_accept` this run (e.g. to
    persist the updated pool) passes the result as `accepted` so the
    batch-curation stages — quality gate, dedup joins,
    decontamination — execute once, not once per consumer.
    """
    if accepted is None:
        accepted = incremental_accept(
            new_docs,
            existing_corpus,
            benchmark,
            ngram=ngram,
            near_threshold=near_threshold,
        )
    pool = accepted.select("doc_id", "source")
    if existing_corpus is not None:
        pool = existing_corpus.select("doc_id", "source").unionByName(pool)
    mixed = mixture_sample(pool, "source", "doc_id", quotas, salt)
    return shuffle_index(mixed, "doc_id", salt).select(
        "doc_id", "source", "mix_rank", "pos"
    )


def curriculum_bins(
    documents: DataFrame,
    bins: int = 10,
    strata_col: str = "lang",
) -> DataFrame:
    """Length-curriculum binning: per stratum, rank documents by
    token count and cut into `bins` equal-width rank slices — the
    shortest-first schedule curriculum training consumes, and the
    length-grouped batching key that minimizes padding waste.

    A per-stratum `ntile` window shuffles the whole stratum into one
    task; instead the rank comes from `_stratified_bucketed_rank`
    with the VALUE being ranked (token count, a small integer) as
    the bucket — its tie groups are the bucket bound. bin =
    floor(rank·bins / n_stratum), all-integer arithmetic, so the
    slice boundaries are identical to the SQL replay's ROW_NUMBER
    formulation by construction.
    """

    n_tok = F.size(ws_tokens(F.col("text")))
    base = ensure_min_partitions(documents).select(
        "doc_id", F.col(strata_col).alias("_st"), n_tok.alias("n_tokens")
    )
    ranked = _stratified_bucketed_rank(
        base, "_st", "n_tokens", ["doc_id"], "_rank"
    )
    totals = base.groupBy("_st").agg(F.count("*").alias("_n"))
    return ranked.join(F.broadcast(totals), "_st").select(
        "doc_id",
        F.col("_st").alias(strata_col),
        "n_tokens",
        F.floor(F.col("_rank") * bins / F.col("_n")).cast("int").alias("bin"),
    )


def domain_cap(
    documents: DataFrame,
    cap: int = 50,
    strata_col: str = "source",
) -> DataFrame:
    """Quality-ranked per-source cap (the RefinedWeb/FineWeb domain
    diversity stage): within each source keep at most `cap`
    documents, choosing the HIGHEST-quality ones — ties break to the
    lowest doc_id. Distinct from `mixture_sample`, whose quotas pick
    uniformly in hash order; this stage is the anti-dominance filter
    that stops one boilerplate-heavy domain from flooding the mix
    with its worst pages. Emits every input doc with its per-source
    quality rank and a `kept` flag, so the drop set is auditable.

    The per-source rank would naively be a stratum-wide sort window
    (one task per domain — and real web domains are exactly the
    skewed stratum where that dies). The composite Gopher-style
    quality score takes only 6 discrete values, so the rank reuses
    `_stratified_bucketed_rank` with the inverted score decile as
    the bucket: every heavy stage is bounded by (source, score-level)
    group size, never source size — same scale argument as
    `curriculum_bins`/`mixture_sample`.
    """
    from elb_log_to_mysql_spark.operators.textops import text_stats

    scored = text_stats(documents).select("doc_id", "quality_score")
    base = (
        ensure_min_partitions(documents)
        .select("doc_id", F.col(strata_col).alias("_st"))
        .join(scored, "doc_id")
    )
    # score ∈ {0, .3, .4, .6, .7, 1.0}: bucket = 10 - round(10·score)
    # sorts ascending exactly as score sorts descending
    bucketed = base.withColumn(
        "_qb", (F.lit(10) - F.round(F.col("quality_score") * 10)).cast("int")
    )
    ranked = _stratified_bucketed_rank(
        bucketed, "_st", "_qb", ["doc_id"], "_rank0"
    )
    return ranked.select(
        "doc_id",
        F.col("_st").alias(strata_col),
        "quality_score",
        (F.col("_rank0") + 1).alias("src_rank"),
        (F.col("_rank0") < cap).alias("kept"),
    )


def curation_audit(
    documents: DataFrame,
    quotas: dict[str, int],
    bench_mod: int = 97,
    ngram: int = 5,
    salt: str = "seed42",
    benchmark: DataFrame | None = None,
) -> DataFrame:
    """Per-document LINEAGE for the curation build — the audit twin
    of `corpus_pipeline`: one row for EVERY input document with the
    verdict of each stage, so "why did my document disappear?" is a
    filter, not an investigation. Flags (each defined independently,
    so a document failing two stages shows both):

    - quality_keep: passed the Gopher gate;
    - dedup_survivor: min-id representative of its content
      fingerprint among quality-kept docs (false when not kept);
    - is_bench: benchmark membership; decontaminated: survived
      benchmark decontamination (false for bench docs AND for docs
      sharing an n-gram with the benchmark set);
    - selected: made the final quota'd mix (exactly
      `corpus_pipeline`'s output set — pinned equal by test).

    Each stage runs ONCE — structurally, not just by intent: the four
    id-sets are persisted (narrow doc_id frames, MEMORY_AND_DISK), so
    the text-heavy derivations (quality stats, fingerprinting, the
    n-gram decontamination join) execute a single time no matter how
    many join branches consume them. Without the persists, Spark
    re-evaluates each shared subtree per consuming branch — quality
    3x, fingerprint dedup 2x, decontamination 2x — and the round-7
    sweep measured the resulting knee (audit 36.4 s vs pipeline
    13.2 s at 20x; the recompute amplifies exactly when the id-set
    joins outgrow broadcast and flip to shuffles). `selected` is
    derived from the already-computed survivor∩clean set via the same
    mixture_sample config (identical selection by construction —
    corpus_pipeline only adds the training-order rank on top). The
    flag id-sets are corpus-scale, so they join WITHOUT broadcast
    hints — AQE picks the strategy; forcing a broadcast here would
    pin a corpus-sized set on the driver. Cached blocks release when
    the caller drops the returned frame (unpersist_on_gc)."""
    from elb_log_to_mysql_spark.operators.dedup import (
        content_fingerprint,
        exact_dedup,
    )
    from elb_log_to_mysql_spark.operators.textops import quality_filter
    from elb_log_to_mysql_spark.session import unpersist_on_gc

    kept_ids = (
        quality_filter(documents).filter("keep").select("doc_id").persist()
    )
    kept = documents.join(kept_ids, "doc_id", "left_semi")
    surv_ids = (
        exact_dedup(
            kept.withColumn("_fp", content_fingerprint("text")),
            ["_fp"],
            ["doc_id"],
        )
        .select("doc_id")
        .persist()
    )
    clean_ids = (
        decontaminate(
            documents, bench_mod=bench_mod, ngram=ngram, benchmark=benchmark
        )
        .select("doc_id")
        .persist()
    )
    clean_surv = surv_ids.join(clean_ids, "doc_id", "left_semi")
    selected_ids = mixture_sample(
        documents.join(clean_surv, "doc_id", "left_semi").select(
            "doc_id", "source"
        ),
        "source",
        "doc_id",
        quotas,
        salt,
    ).select("doc_id")

    def flag(ids: DataFrame, name: str) -> DataFrame:
        return ids.withColumn(name, F.lit(True))

    base = documents.select("doc_id", "source")
    out = (
        base.join(flag(kept_ids, "quality_keep"), "doc_id", "left")
        .join(flag(surv_ids, "dedup_survivor"), "doc_id", "left")
        .join(flag(clean_ids, "decontaminated"), "doc_id", "left")
        .join(flag(selected_ids, "selected"), "doc_id", "left")
    )
    result = out.select(
        "doc_id",
        "source",
        F.coalesce("quality_keep", F.lit(False)).alias("quality_keep"),
        F.coalesce("dedup_survivor", F.lit(False)).alias("dedup_survivor"),
        (
            F.lit(False)
            if benchmark is not None  # eval suite is external: no
            # in-corpus doc is itself a benchmark member
            else (F.col("doc_id") % bench_mod == 0)
        ).alias("is_bench"),
        F.coalesce("decontaminated", F.lit(False)).alias("decontaminated"),
        F.coalesce("selected", F.lit(False)).alias("selected"),
    )
    return unpersist_on_gc(result, kept_ids, surv_ids, clean_ids)


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
) -> DataFrame:
    """Content-level diff of two corpus snapshots: per id, whether it
    was `added`, `removed`, `changed` (same id, different canonical
    content fingerprint), or `unchanged` — the review gate a corpus
    iteration runs before promoting a new build ("this crawl refresh
    touched 3% of documents, show me which").

    Distinct from the SCD operators: those track KEYED state over an
    event stream; this compares two materialized versions by content
    hash. One full-outer join on the id, fingerprints compared
    in-plan — no driver materialization, shuffle keyed on the
    high-cardinality id. The fingerprint is `content_fingerprint`
    (whitespace/case-canonical md5), so formatting-only edits don't
    count as changes — the same canonicalization the dedup family
    keys on, ONE definition across the engine.
    """
    from elb_log_to_mysql_spark.operators.dedup import content_fingerprint

    o = old.select("doc_id", content_fingerprint("text").alias("_fp_old"))
    n = new.select("doc_id", content_fingerprint("text").alias("_fp_new"))
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
