"""Deduplication operators for large-scale text corpora.

The LLM-pipeline extension surface (driver contract; SURVEY §2.3):
exact dedup, MinHash-LSH near-dedup, exact n-gram Jaccard, and
SimHash. Set-oriented steps (shingling, banding, bucket joins,
verification) are built-in column expressions + joins, staying in
whole-stage codegen; the one dense-numeric kernel (the k-family
MinHash signature) is an Arrow-vectorized numpy op
(functions/vectorops.py) because Spark's higher-order array
functions evaluate interpreted.

Every MinHash near-dedup operator — `near_dedup_minhash`, its
two-phase variant, the prefix-filtered exact Jaccard and the
streaming path (streaming/neardedup.py) — is built from ONE chain:

- `shingle_sets`: distinct word SHINGLE_N-grams, one xxhash64 each
               (array<long> per doc, shingle-less docs dropped)
- `band_rows`:  multiply-shift MinHash over the hashed shingles (all
               NUM_HASHES at once per Arrow batch), grouped into BANDS
               band hashes, one (doc_id, band_idx, band_hash) row per
               band; works on batch and streaming frames alike
- `hot_buckets`: the over-full (band_idx, band_hash) buckets — the
               skew guard; a degenerate bucket (many near-identical
               docs) is the only quadratic danger at 100 TB
- `band_pairs`: the band self-join — only same-bucket pairs are
               compared, so candidate generation is O(docs·bands),
               never O(docs²)
- `verify_pairs`: exact Jaccard on the candidate pairs only.

The band config is the module constants SHINGLE_N, NUM_HASHES and
BANDS: band keys are opaque hashes of it, so every operator (and a
stored stream blocklist) must agree on it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.functions.vectorops import minhash_sig_rows
from elb_log_to_mysql_spark.session import ensure_min_partitions, unpersist_on_gc


# MinHash-LSH band config. 64 hashes in 16 bands (r=4 rows per band)
# put the S-curve's 50% capture point near s=(1/b)^(1/r)≈0.5 — tuned
# for the 0.6 default threshold.
SHINGLE_N = 3
NUM_HASHES = 64
BANDS = 16
_ROWS_PER_BAND = NUM_HASHES // BANDS


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame, keys: list[str], order: list[Column | str]
) -> DataFrame:
    """Keep exactly one row per key, chosen by a total order.

    `dropDuplicates` keeps an *arbitrary* row — nondeterministic under
    partitioning, so unacceptable for a reproducible pipeline. The
    row_number formulation pins the survivor and costs the same single
    shuffle.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def content_fingerprint(text: Column | str) -> Column:
    """Canonical content hash: collapse whitespace, lowercase, md5.

    Two docs with the same fingerprint are byte-identical up to case
    and whitespace — the standard first pass before near-dedup.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


def dedup_documents_exact(documents: DataFrame) -> DataFrame:
    """Exact content dedup over `documents`: one survivor (min doc_id)
    per fingerprint, annotated with the duplicate count."""
    with_fp = documents.withColumn("fp", content_fingerprint("text"))
    groups = with_fp.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count")
    )
    return groups.select("doc_id", "fp", "dup_count")


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------
def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization shared by every text operator whose
    oracle replays `list_filter(string_split_regex(lower(text),
    '\\s+'), x -> x <> '')` — ONE definition so Spark and the SQL
    twins cannot drift. Splitting on \\s+ only yields empty tokens at
    the two array boundaries (any interior separator run is a single
    match), so array_remove(.., '') strips exactly the lambda-
    filtered set — and unlike the lambda HOF it participates in
    whole-stage codegen (the round-10 cold-start finding, SCALE.md)."""
    return F.array_remove(F.split(F.lower(text), r"\s+"), "")


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> column.

    Built from a sequence of slice positions with `transform` —
    array ops only, no explode needed at this stage.

    Docs shorter than n tokens yield an EMPTY array: the sequence
    bound must be guarded, because `sequence(1, 0)` steps DOWNWARD
    ([1, 0]) and the 0 start would crash `slice` at runtime — a
    short-document row, inevitable in a real corpus, would otherwise
    kill the whole job.
    """
    c = F.col(text) if isinstance(text, str) else text

    # Let-binding via a 1-element array: higher-order lambdas re-evaluate
    # any OUTER subtree they reference once per element (HOFs run
    # interpreted, no common-subexpression elimination), so slicing the
    # raw `ws_tokens(c)` expression inside the loop would re-tokenize the
    # whole document per shingle — O(len·shingles). Binding the token
    # array to a lambda variable evaluates it exactly once per row
    # (measured 4-8x on the sf0.1 corpus).
    def _build(toks: Column) -> Column:
        n_sh = F.size(toks) - (n - 1)
        return F.when(
            n_sh > 0,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_sh),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(ws_tokens(c)), _build), 1)



def band_hashes(sig: Column) -> Column:
    """LSH band hashes as an array<long> column: element i is
    xxhash64 of the signature slice [i*r, (i+1)*r) rendered as a
    comma-joined string. Shared by every near-dedup operator, batch
    and streaming, so they all generate IDENTICAL bucket keys — the
    property that makes stream-vs-batch candidate-set equivalence
    testable."""
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        sig[i * _ROWS_PER_BAND + j].cast("string")
                        for j in range(_ROWS_PER_BAND)
                    ],
                )
            )
            for i in range(BANDS)
        ]
    )


def shingle_sets(
    documents: DataFrame,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, shingles[, carry...]): each document's distinct word
    SHINGLE_N-grams as an array<long> of xxhash64 values, documents
    without a shingle dropped. Works on batch and streaming frames.

    Shingle hashes are the working representation of the whole chain:
    signatures derive from them, and exact-Jaccard verification
    intersects them — distinct xxhash64 values stand in for distinct
    shingles (collision odds ~n²/2^64, negligible), and fixed-width
    longs join/intersect far cheaper than long strings. `carry`
    columns (e.g. an ingest timestamp for watermarking) pass through."""
    return documents.select(
        "doc_id",
        F.transform(
            word_shingles("text", SHINGLE_N), lambda s: F.xxhash64(s)
        ).alias("shingles"),
        *carry,
    ).filter(F.size("shingles") > 0)


def band_rows(sh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash[, carry...]) LSH band rows of a
    `shingle_sets` frame — batch OR streaming (every node here is
    streamable); any column besides doc_id and shingles is carried
    onto every band row.

    The signature is vectorops.minhash_sig_rows, the Arrow-vectorized
    multiply-shift kernel as its own mapInPandas operator: the HOF
    formulation (k × array_min(transform(...)) passes) is interpreted
    per row and was the operator's dominant cost, and a separate
    physical operator is structurally immune to the concurrent-
    planning race where a shuffle-write projection received a raw
    PythonUDF (THROUGHPUT_r11 known_flake). It also plans cleanly
    upstream of a stateful stream join. One signer for batch and
    stream, so their signatures are bit-identical by construction.

    The rows are three longs each: shingle arrays stay out of the band
    self-join (at scale they are the dominant byte volume, and
    shuffling them 2·BANDS times per doc would swamp the exchange) and
    re-attach in `verify_pairs` for the few surviving candidates."""
    carry = tuple(c for c in sh.columns if c not in ("doc_id", "shingles"))
    sig = minhash_sig_rows(sh, NUM_HASHES, carry=carry)
    return sig.select(
        "doc_id",
        F.posexplode(band_hashes(F.col("sig"))).alias("band_idx", "band_hash"),
        *carry,
    )


def hot_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """(band_idx, band_hash, bsz) for the band buckets of `banded`
    holding more than `max_bucket` rows — degenerate buckets (spam
    clusters), the explicit skew bound. They are rare by construction,
    so callers broadcast them into an anti-join."""
    return (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") > max_bucket)
    )


def band_pairs(banded: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b) candidate pairs, doc_id_a < doc_id_b, each
    once: the band self-join on (band_idx, band_hash), deduplicated
    because a near-duplicate pair collides in several bands."""
    left = banded.select("band_idx", "band_hash", F.col("doc_id").alias("doc_id_a"))
    right = banded.select("band_idx", "band_hash", F.col("doc_id").alias("doc_id_b"))
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )


def verify_pairs(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """(doc_id_a, doc_id_b, jaccard) for the candidate pairs in `cand`
    whose exact shingle-set Jaccard over the `shingle_sets` frame `sh`
    is >= threshold.

    Raw int/int division, not rounded: the exact twin
    (ngram_jaccard_pairs) and the DuckDB oracle compute the same IEEE
    division of the same integer counts, so the value is bit-identical
    across engines — rounding would only introduce a cross-engine
    half-way-tie hazard."""
    joined = cand.join(
        sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a")),
        "doc_id_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b")),
        "doc_id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def near_dedup_minhash(
    documents: DataFrame,
    threshold: float = 0.6,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    Returns (doc_id_a, doc_id_b, jaccard) for candidate pairs whose
    exact shingle-set Jaccard >= threshold, doc_id_a < doc_id_b.

    Candidates come only from band-bucket collisions, so the shuffle
    is on (band, band_hash) and never pairs the corpus quadratically;
    buckets over `max_bucket` are dropped whole.
    """
    # persisted: the shingles feed the signatures and the verification;
    # the band rows feed the bucket census and both join legs
    sh = shingle_sets(ensure_min_partitions(documents)).persist()
    banded = band_rows(sh).persist()
    kept = banded.join(
        F.broadcast(hot_buckets(banded, max_bucket)),
        ["band_idx", "band_hash"],
        "left_anti",
    )
    out = verify_pairs(band_pairs(kept), sh, threshold)
    # Caches live as long as the returned plan is referenced; released
    # automatically when the caller drops it (session.py:unpersist_on_gc).
    return unpersist_on_gc(out, sh, banded)


def near_dedup_minhash_two_phase(
    documents: DataFrame,
    work_dir: str,
    n_slices: int = 32,
    threshold: float = 0.6,
    max_bucket: int = 1000,
    recover_max_bucket: int | None = None,
    recover_batch_members: int = 2_000_000,
):
    """Spill-friendly near_dedup_minhash for output-bound corpora
    (VERDICT r13 item 5): identical pair semantics, but the candidate
    emit and the exact-Jaccard verification are split into BOUNDED
    jobs so a single box degrades to disk-streaming instead of dying —
    and a cluster gets smaller per-stage shuffles for free.

    Why: near_dedup_minhash verifies all candidates in ONE job whose
    second shingle join shuffles ~(pairs x shingle-array bytes) at
    once — at 640x the >=1.12G-pair output prices that transient above
    the box's free disk (SCALE.md round-13: correct refusal).

    Phase 1 — FIRST-SURVIVING-BAND emit. The naive banded self-join
    emits a clone pair once per colliding band (x16 here: identical
    docs share all 16 band hashes), so the raw candidate stream is
    band-multiplicity times the pair count and the usual
    dropDuplicates pays a pair-volume shuffle — the very transient
    this variant exists to avoid (the first 640x attempt died in the
    partitionBy write's sorter, priced by exactly that
    multiplicity). Instead, each exploded row carries its doc's FULL
    band-hash array plus a survived-the-skew-cap mask, and the join
    emits pair (a,b) at band i only when NO earlier band j<i has
    equal hashes AND an uncapped bucket — every candidate pair is
    emitted EXACTLY ONCE (same set as the single-shot operator's
    dropDuplicates output, including cap semantics: hashes equal at
    j means both docs sit in the SAME bucket j, so one side's mask
    decides for both). The unique pairs stream straight to plain
    zstd parquet: no dedup shuffle, no partitionBy sort. The shingle
    table (doc_id, shingles) is written once alongside.

    Phase 2 — bounded verification. Because pairs are globally
    unique, ANY partition of the candidate FILES is a valid work
    split: the files are chunked into n_slices groups; per group,
    read, join the shingle table twice, exact Jaccard, keep >=
    threshold, append to the result parquet, DELETE the group's
    files, and nudge the ContextCleaner so the finished group's
    shuffle files free before the next group's are written. Peak
    disk = phase-1's candidate spill (unique pairs, ~10-16 B/pair
    zstd) + ONE group's verification shuffle (~1/n_slices of the
    single-shot transient).

    The single-shot operator deliberately keeps its skinny
    3-longs-per-row join + dropDuplicates: at non-degenerate dup
    factors the wide-array join shuffle here (bh 16 longs + mask per
    side) costs more than the dup collapse saves. First-band emit
    pays off exactly in the output-bound regime this variant is for.

    Skew-cap RECOVERY (``recover_max_bucket``, VERDICT r14 item 3):
    with the default (None = max_bucket) the pair set EQUALS the
    single-shot operator's — capped buckets dropped whole. Setting
    recover_max_bucket > max_bucket processes buckets in
    (max_bucket, recover_max_bucket] through a dedicated bounded
    path (side-spilled member lists, per-batch self-joins packed by
    ``recover_batch_members``), making the result a SUPERSET of the
    single-shot contract: exactly the pairs whose first collision
    lives in a recoverable bucket are added back — at 640x those are
    the 147 whole clone clusters (30.06M pairs, 2.9% of the floor)
    the r14 run lost to the cap. Ownership stays globally unique
    (first PROCESSED collision owns the pair, whether its bucket is
    a main or a recovery site), so no dedup shuffle appears anywhere.
    Buckets beyond recover_max_bucket are still dropped whole and
    pair-exactly accounted in stats.

    Returns (result_df, stats) where result_df reads the verified-pair
    parquet (doc_id_a, doc_id_b, jaccard — same contract as
    near_dedup_minhash) and stats adds the recovery/degradation
    accounting (recovered_buckets/members, dropped_buckets/members/
    max_bucket). EAGER end-to-end (a materializing pipeline, not a
    lazy plan) — that is the point: the caller chose bounded disk
    over plan purity. Not for streaming.
    """
    import glob as _glob
    import os as _os
    import shutil as _shutil

    spark = documents.sparkSession
    cand_dir = _os.path.join(work_dir, "candidates")
    sh_dir = _os.path.join(work_dir, "shingles")
    out_dir = _os.path.join(work_dir, "verified")
    for d in (cand_dir, sh_dir, out_dir):
        _shutil.rmtree(d, ignore_errors=True)

    shingle_sets(ensure_min_partitions(documents)).write.mode("overwrite").parquet(
        sh_dir
    )
    sh = spark.read.parquet(sh_dir)

    eff_cap = max_bucket if recover_max_bucket is None else recover_max_bucket
    if eff_cap < max_bucket:
        raise ValueError(
            f"recover_max_bucket must be >= max_bucket, got "
            f"({recover_max_bucket}, {max_bucket})"
        )

    sig = minhash_sig_rows(sh, NUM_HASHES)
    # per-doc band-hash ARRAY (not yet exploded) — both the join keys
    # and the earlier-band test read it
    bh_frame = sig.select("doc_id", band_hashes(F.col("sig")).alias("bh"))
    banded = bh_frame.select(
        "doc_id", F.posexplode("bh").alias("band_idx", "band_hash")
    ).persist()
    # mask join + recovery batching + accounting read it
    capped = hot_buckets(banded, max_bucket).persist()
    # per-doc band masks, band order preserved via array_sort on
    # (band_idx, size) structs; capped buckets are few (skew guard),
    # so the size join broadcasts. sv[i] = band i's bucket is an
    # UNCAPPED (main-path) emit site; pv[i] = the bucket is PROCESSED
    # at all (uncapped OR capped-but-recoverable) — the global
    # pair-ownership test. Equal hashes at a band => same bucket =>
    # same masks on both sides, so one side's mask decides.
    masks = (
        banded.join(
            F.broadcast(capped.select("band_idx", "band_hash", "bsz")),
            ["band_idx", "band_hash"],
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "band_idx",
                        F.coalesce("bsz", F.lit(0)).alias("z"),
                    )
                )
            ).alias("_zs")
        )
        .select(
            "doc_id",
            F.transform("_zs", lambda s: s.getField("z") == 0).alias("sv"),
            F.transform("_zs", lambda s: s.getField("z") <= eff_cap).alias(
                "pv"
            ),
        )
    )
    banded.unpersist()
    doc_side = bh_frame.join(masks, "doc_id")
    exploded = doc_side.select(
        "doc_id",
        "bh",
        "pv",
        F.posexplode(F.arrays_zip("bh", "sv", "pv")).alias("band_idx", "z"),
    )
    # main-path emit rows: uncapped bands only — the self-join stays
    # skinny (the skew cap's whole point); recovery rows: the
    # capped-but-recoverable bands, spilled separately below
    emit = exploded.filter(F.col("z.sv")).select(
        "doc_id", "bh", "pv", "band_idx", F.col("z.bh").alias("band_hash")
    )

    def _pair_join(eleft, eright):
        """a<b pairs colliding at band_idx whose FIRST processed
        collision is this band — every pair emitted exactly once
        across the main and recovery paths combined.

        The earlier-collision test (hashes equal at j<i AND bucket j
        processed) is deliberately a FLAT short-circuit OR over the
        <=BANDS fixed positions, NOT slice/zip_with/exists: it runs
        on every joined row (|bucket|^2 x BANDS rows before the
        a<b/emit filters — tens of billions at 640x), and Spark's
        higher-order array functions are interpreted with per-row
        array allocation (~5us/row), while element_at comparisons
        stay inside whole-stage codegen (~ns). Measured: the HOF form
        pinned 32 cores for >30 min at 640x; the flat form finishes
        the stage in minutes."""
        earlier = F.lit(False)
        for j in range(BANDS):
            earlier = earlier | (
                (F.col("band_idx") > j)
                & (F.element_at("bh_a", j + 1) == F.element_at("bh_b", j + 1))
                & F.element_at("pv_a", j + 1)
            )
        return (
            eleft.join(eright, ["band_idx", "band_hash"])
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
            .filter(~earlier)
            .select("doc_id_a", "doc_id_b")
        )

    def _sides(e):
        return (
            e.select(
                "band_idx",
                "band_hash",
                F.col("doc_id").alias("doc_id_a"),
                F.col("bh").alias("bh_a"),
                F.col("pv").alias("pv_a"),
            ),
            e.select(
                "band_idx",
                "band_hash",
                F.col("doc_id").alias("doc_id_b"),
                F.col("bh").alias("bh_b"),
            ),
        )

    left, right = _sides(emit)
    _pair_join(left, right).write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(cand_dir)

    # Skew-cap RECOVERY (VERDICT r14 item 3): capped buckets hold
    # precisely the spammiest/most-duplicated docs — dropping them
    # whole is the worst miss a dedup can make. Buckets in
    # (max_bucket, recover_max_bucket] get a dedicated bounded path:
    # their member rows (ids + band arrays, no text) spill ONCE to a
    # side parquet, then batches packed by member count self-join
    # per batch under the same first-processed-collision ownership —
    # each batch's transient is bounded by recover_batch_members^2 /
    # bucket-count, and the appended candidate files flow through the
    # same sliced phase-2 verification. Buckets beyond
    # recover_max_bucket are still dropped whole, pair-exactly
    # accounted in stats (the explicit degradation contract).
    rec_buckets = (
        capped.filter(F.col("bsz") <= eff_cap)
        .select("band_idx", "band_hash", "bsz")
        .collect()
        if eff_cap > max_bucket
        else []
    )
    dropped_row = (
        capped.filter(F.col("bsz") > eff_cap)
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.coalesce(F.sum("bsz"), F.lit(0)).alias("nm"),
            F.coalesce(F.max("bsz"), F.lit(0)).alias("mx"),
        )
        .first()
    )
    capped.unpersist()
    if rec_buckets:
        rec_dir = _os.path.join(work_dir, "recovery_members")
        exploded.filter(F.col("z.pv") & ~F.col("z.sv")).select(
            "doc_id", "bh", "pv", "band_idx", F.col("z.bh").alias("band_hash")
        ).write.mode("overwrite").option("compression", "zstd").parquet(
            rec_dir
        )
        rm = spark.read.parquet(rec_dir)
        rleft, rright = _sides(rm)
        batches, cur, cur_members = [], [], 0
        for r in sorted(
            rec_buckets, key=lambda r: (r["band_idx"], r["band_hash"])
        ):
            if cur and cur_members + r["bsz"] > recover_batch_members:
                batches.append(cur)
                cur, cur_members = [], 0
            cur.append((r["band_idx"], r["band_hash"]))
            cur_members += r["bsz"]
        if cur:
            batches.append(cur)
        for batch in batches:
            keys = spark.createDataFrame(
                batch, "band_idx int, band_hash bigint"
            )
            _pair_join(
                rleft.join(F.broadcast(keys), ["band_idx", "band_hash"]),
                rright.join(F.broadcast(keys), ["band_idx", "band_hash"]),
            ).write.mode("append").option("compression", "zstd").parquet(
                cand_dir
            )
        _shutil.rmtree(rec_dir, ignore_errors=True)

    files = sorted(_glob.glob(_os.path.join(cand_dir, "*.parquet")))
    groups = [files[s::n_slices] for s in range(n_slices)]
    cand_rows = 0
    for group in groups:
        if not group:
            continue
        cand = spark.read.parquet(*group)
        cand_rows += cand.count()
        verify_pairs(cand, sh, threshold).write.mode("append").parquet(out_dir)
        for f in group:
            try:
                _os.remove(f)
            except OSError:
                pass
        # nudge the ContextCleaner so the finished group's shuffle
        # files are deleted before the next group's are written —
        # the whole point is bounding transient disk
        spark.sparkContext._jvm.System.gc()

    result = spark.read.parquet(out_dir)
    stats = {
        "pairs": int(result.count()),
        "slices": n_slices,
        "candidate_rows": int(cand_rows),
        "recovered_buckets": len(rec_buckets),
        "recovered_members": int(sum(r["bsz"] for r in rec_buckets)),
        "dropped_buckets": int(dropped_row["nb"]),
        "dropped_members": int(dropped_row["nm"]),
        "dropped_max_bucket": int(dropped_row["mx"]),
    }
    _shutil.rmtree(cand_dir, ignore_errors=True)
    return result, stats


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard similar pairs via shingle inverted index.

    explode shingles -> self-join on shingle -> |intersection| per
    pair -> Jaccard with |A|+|B|-|I|. This is the exact (non-LSH)
    formulation: the join is on the shingle value (inverted index), so
    only pairs sharing >=1 shingle are ever formed. SQL-expressible,
    hence oracle-checkable; the MinHash path above is its sublinear
    approximation for 100 TB.
    """
    # Shingles are joined as xxhash64 longs, not strings: fixed-width
    # shuffle keys, cheap equality (collision odds ~n²/2^64 — the same
    # argument as the MinHash path; the string itself never shuffles).
    # Each leg also carries its doc's shingle count so size-incompatible
    # pairs (jaccard upper bound min/max < threshold) are pruned BEFORE
    # the pair-count aggregation — that bound needs no intersection
    # knowledge, and it cuts the second shuffle's input, which at scale
    # is the dominant one (every co-occurring pair × shared shingles).
    # The count is `size(arr)` taken BEFORE the explode (r15, guide
    # §2.4): identical to the former groupBy-count over the exploded
    # rows (explode drops exactly the empty-array docs both ways), but
    # it deletes one aggregation and two doc_id joins from the plan.
    documents = ensure_min_partitions(documents)
    sh = (
        documents.select(
            "doc_id",
            word_shingles("text", SHINGLE_N).alias("arr"),
        )
        # bind `arr` one projection below so size() and explode() both
        # read the materialized column (CollapseProject refuses to
        # inline a multiply-referenced non-trivial expression, so the
        # shingle computation stays single-evaluation per row)
        .select(
            "doc_id", F.size("arr").alias("n_sh"), F.explode("arr").alias("shingle_s")
        )
        .select("doc_id", "n_sh", F.xxhash64("shingle_s").alias("shingle"))
        .persist()  # feeds both join legs — compute shingles once
    )

    a = sh.select(
        F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = sh.select(
        F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .filter(
            F.least("n_a", "n_b") >= F.greatest("n_a", "n_b") * F.lit(threshold)
        )
        .groupBy("doc_id_a", "doc_id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )
    return unpersist_on_gc(out, sh)

def incremental_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    threshold: float = 0.6,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING (already-deduped) corpus —
    the daily-ingest pattern: cost must scale with the batch, never
    with the accumulated corpus.

    Per new document: `exact_dup` (content fingerprint collides with
    an existing doc), `near_dup` (n-gram Jaccard >= threshold against
    any existing doc), `keep` (neither). Both checks are CROSS joins
    only — new×existing, never existing×existing: the fingerprint
    check is a broadcast-able semi-join on a 16-byte key, and the
    near-dup check drives the shingle inverted index from the batch
    side, so the corpus-side index is probed, not rebuilt (in
    production it is a bucketed table keyed by shingle; here both
    sides derive in-plan). Within-batch duplicates are the separate
    `near_dedup`/`dedup_survivors` path — this operator answers "is it
    already in the lake".
    """
    new_docs = ensure_min_partitions(new_docs)

    fp_new = new_docs.select(
        "doc_id",
        content_fingerprint("text").alias("fp"),
    )
    fp_ex = existing_docs.select(content_fingerprint("text").alias("fp"))
    exact = (
        fp_new.join(fp_ex, "fp", "left_semi")
        .select("doc_id")
        .withColumn("exact_dup", F.lit(True))
    )

    def shingled(df: DataFrame, side: str) -> DataFrame:
        # each side's shingle count is size() taken before the
        # explode, as in ngram_jaccard_pairs
        doc, n = f"doc_id_{side}", f"n_{side}"
        return (
            df.select(
                F.col("doc_id").alias(doc),
                word_shingles("text", SHINGLE_N).alias("arr"),
            )
            .select(doc, F.size("arr").alias(n), F.explode("arr").alias("shingle_s"))
            .select(doc, n, F.xxhash64("shingle_s").alias("shingle"))
        )

    a = shingled(new_docs, "new")
    b = shingled(existing_docs, "ex")
    near = (
        a.join(b, "shingle")
        .filter(
            F.least("n_new", "n_ex")
            >= F.greatest("n_new", "n_ex") * F.lit(threshold)
        )
        .groupBy("doc_id_new", "n_new", "doc_id_ex", "n_ex")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .filter(
            F.col("n_inter")
            / (F.col("n_new") + F.col("n_ex") - F.col("n_inter"))
            >= threshold
        )
        .select(F.col("doc_id_new").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )

    return (
        new_docs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
            (
                ~F.coalesce("exact_dup", F.lit(False))
                & ~F.coalesce("near_dup", F.lit(False))
            ).alias("keep"),
        )
    )


def ngram_jaccard_pairs_prefix(
    documents: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/
    PPJoin candidate generation) — the scale path for the exact
    formulation.

    The plain inverted index (`ngram_jaccard_pairs`) forms a candidate
    for every pair sharing ANY shingle: a shingle occurring in k docs
    contributes k² join rows, so duplicate-dense corpora (boilerplate,
    spam clusters) blow up quadratically. Prefix filtering indexes
    only each doc's `|d| - ceil(t·|d|) + 1` rarest shingles under one
    GLOBAL frequency order: two docs with Jaccard >= t must share at
    least one prefix shingle (pigeonhole on the required overlap
    t/(1+t)·(|A|+|B|)), so the self-join runs on the prefix table
    only — frequent boilerplate shingles sort to the suffix and never
    generate candidates. Candidates are then verified with exact
    Jaccard on the full shingle sets, so the output is IDENTICAL to
    the inverted-index twin (same oracle).

    Cost shape: +1 shuffle for the global document-frequency table and
    +1 for the per-doc rank window, in exchange for candidate volume
    that tracks rare-shingle collisions instead of all collisions —
    the trade that matters at 100 TB, measured in SCALE.md.
    """
    from pyspark.sql import Window

    arr = shingle_sets(ensure_min_partitions(documents))
    arr = arr.withColumn("n_sh", F.size("shingles")).persist()

    sh = arr.select("doc_id", "n_sh", F.explode("shingles").alias("shingle"))
    # Global order = (document frequency, shingle): rarest first, total
    # and deterministic. The df table is (shingle, df) — two longs —
    # and joins back on the shuffle key it was built on.
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    pref = (
        sh.join(freq, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select("doc_id", "n_sh", "shingle")
    )

    a = pref.select(
        F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = pref.select(
        F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    cand_ids = (
        a.join(b, "shingle")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        # size-compatibility prune (jaccard upper bound min/max < t)
        .filter(
            F.least("n_a", "n_b") >= F.greatest("n_a", "n_b") * F.lit(threshold)
        )
        .select("doc_id_a", "doc_id_b")
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    return unpersist_on_gc(verify_pairs(cand_ids, arr, threshold), arr)


# Heap bytes the inverted index needs per candidate-pair row to stay
# in the stable regime, calibrated from JACCARD_CROSSOVER_r08 (equal
# 48 g heap, min-of-2): 138M pairs were comfortable at 8 GiB
# (19 s), 556M pairs at 8 GiB fell off the memory cliff (spill-bound
# 400 s, GC-thrash on the repeat), 2.23 G pairs at 48 GiB still ran.
# 32 B/pair puts the 8 GiB budget at 268M — between the two anchors —
# and scales the cliff guard with whatever heap the host actually has.
_HEAP_BYTES_PER_PAIR = 32


# Per-document resident bytes for the banded-MinHash family: the two
# persisted frames are the shingle-hash arrays (8 B per shingle, one
# shingle per token beyond n-1) and the banded table (BANDS rows of
# three longs + ~16 B Tungsten row overhead). 64 B/band covers the
# row plus its shuffle copy.
_HEAP_BYTES_PER_SHINGLE = 8
_HEAP_BYTES_PER_BAND = 64
_HEAP_BASE_BYTES = 3 << 30  # JVM + Spark + codegen caches


def sublinear_heap_requirement(
    n_docs: int,
    avg_tokens: float,
    est_pairs: int,
) -> int:
    """Heap bytes the sublinear dedup family needs to stay in the
    stable (no spill / no GC-thrash) regime — the cluster-sizing
    formula for a 100 TB deployment (VERDICT r9 item 7):

        heap >= 3 GiB                          (JVM + Spark base)
              + n_docs * (8*avg_tokens + 64*BANDS)   (doc-side state)
              + est_pairs * 32                 (candidate shuffle)

    The pair term is the calibrated _HEAP_BYTES_PER_PAIR (32 B,
    JACCARD_CROSSOVER_r08). The model brackets the measured anchors:
    556M pairs wants ~20 GiB and indeed fell off the cliff at 8 GiB;
    2.23G pairs wants ~74 GiB and at 48 GiB ran once then GC-thrashed
    on the repeat (cliff edge — the model correctly flags it); the
    80x/160x near_dedup probes (17.4M/70.2M pairs, 0.8M/1.6M docs)
    want ~6/9 GiB and ran comfortably at 48/80 GiB. On a cluster the
    requirement spreads across executors: executors >= requirement /
    spark.executor.memory. Asserted against the live heap by
    tools/scale_probe_80x.py so every probe artifact records its own
    predicted requirement and headroom."""
    doc_bytes = int(
        n_docs * (_HEAP_BYTES_PER_SHINGLE * avg_tokens
                  + _HEAP_BYTES_PER_BAND * BANDS)
    )
    return _HEAP_BASE_BYTES + doc_bytes + est_pairs * _HEAP_BYTES_PER_PAIR


def _parse_jvm_mem(s: str) -> int:
    """'48g' / '512m' / '8192k' / plain bytes -> bytes (JVM suffixes)."""
    s = s.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def _runtime_heap_bytes(spark) -> int:
    """Total executor heap available to hold the candidate shuffle.

    Cluster mode: spark.executor.memory x spark.executor.instances
    (both set by any statically-sized deployment). Local / dynamic
    fallback: the live JVM's actual Runtime.maxMemory() — ground
    truth for local[*], conservative (driver-only) under dynamic
    allocation, which errs toward prefix, the stable formulation."""
    sc = spark.sparkContext
    try:
        em = sc.getConf().get("spark.executor.memory", None)
        ni = sc.getConf().get("spark.executor.instances", None)
        if em and ni and not sc.master.startswith("local"):
            return _parse_jvm_mem(em) * int(ni)
    except Exception:  # noqa: BLE001 — fall through to the live JVM
        pass
    return int(sc._jvm.Runtime.getRuntime().maxMemory())


def choose_jaccard_strategy(
    documents: DataFrame,
    pair_budget_per_core: int | None = None,
    skew_budget: int = 50_000_000,
) -> tuple[str, dict]:
    """Pick the exact-Jaccard formulation from CORPUS STATISTICS
    (VERDICT r7 item 4's chooser). One eager aggregation over the
    shingle document-frequency table — the same AQE-statistics
    pattern as the simhash density probe — estimates the two
    quantities that decide the inverted index's fate:

    - est_pairs = Σ df·(df−1)/2 — the exact number of join rows the
      shingle self-join emits. The round-8 sweep calibration: 138M
      pairs ran in 19 s; 556M pairs fell off the memory cliff at the
      default heap (400 s, spill-bound) while prefix filtering did
      the same corpus in 173 s; with 48 g of heap even 2.23 G pairs
      stayed in-memory-fast (384 s). The budget DERIVES from the
      runtime heap by default — total executor heap /
      _HEAP_BYTES_PER_PAIR (32 B/pair, calibrated above) — so the
      "past-budget inverted is UNSTABLE" cliff cannot be walked into
      on a smaller host (a fixed constant tuned on a 48 g box would
      wave a 556M-pair corpus through on an 8 g one, straight into
      the measured GC-thrash regime). Pass `pair_budget_per_core` to
      override with the legacy per-core constant.
    - max_df — the hottest posting list. A single shingle of
      frequency d concentrates d²/2 candidate rows on ONE join key
      (a single reducer task): boilerplate at corpus scale. Prefix
      filtering is immune (high-df shingles sort to the suffix and
      never join), so max_df²/2 > skew_budget forces prefix
      regardless of total volume.

    Returns ("inverted"|"prefix", stats). NOTE: eager — runs one
    Spark job at call time."""
    sh = documents.select(
        F.explode(word_shingles("text", SHINGLE_N)).alias("s")
    ).select(F.xxhash64("s").alias("shingle"))
    row = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("pairs"),
            F.max("df").alias("max_df"),
        )
        .first()
    )
    est_pairs = int(row.pairs or 0)
    max_df = int(row.max_df or 0)
    spark = documents.sparkSession
    if pair_budget_per_core is not None:
        cores = spark.sparkContext.defaultParallelism
        budget = pair_budget_per_core * cores
        heap = None
        source = "explicit"
    else:
        heap = _runtime_heap_bytes(spark)
        budget = heap // _HEAP_BYTES_PER_PAIR
        source = "heap-derived"
    skewed = max_df * (max_df - 1) / 2 > skew_budget
    strategy = "prefix" if (est_pairs > budget or skewed) else "inverted"
    return strategy, {
        "est_pairs": est_pairs,
        "max_df": max_df,
        "pair_budget": budget,
        "heap_bytes": heap,
        "budget_source": source,
        "skew_limited": bool(skewed),
    }


def ngram_jaccard_pairs_auto(
    documents: DataFrame,
    threshold: float = 0.5,
    **chooser_kwargs,
) -> DataFrame:
    """Exact n-gram Jaccard pairs with the strategy CHOSEN from corpus
    stats (choose_jaccard_strategy): the inverted index while its
    candidate volume fits the shuffle budget (lower constant factors
    — no frequency join, no rank window, no candidate dedup), prefix
    filtering beyond it or under posting-list skew. Both twins emit
    the IDENTICAL pair set (pinned by the sweep's inv ≡ prefix hash
    check), so the choice is pure physics, never semantics."""
    strategy, _ = choose_jaccard_strategy(documents, **chooser_kwargs)
    fn = (
        ngram_jaccard_pairs_prefix if strategy == "prefix" else ngram_jaccard_pairs
    )
    return fn(documents, threshold)


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """SimHash fingerprints, computed map-side.

    Token hashing stays JVM-side (xxhash64 over the token array); the
    64-bit vote tally runs in the Arrow-vectorized kernel
    (functions/vectorops.py:simhash_fp_batch) — one bit-matrix unpack +
    segment-sum per batch. The fingerprint is produced in the scan
    stage with NO explode and NO shuffle: at 100 TB the alternative
    (explode to one row per token, 64-column hash aggregate) shuffles
    64 ints per doc and pays a token-count-sized exchange input.
    No test compares the kernel with that formulation; the simhash
    tests check the pairs these fingerprints produce.
    """
    from elb_log_to_mysql_spark.functions.vectorops import with_simhash_fp

    th = (
        ensure_min_partitions(documents)
        .select(
            "doc_id",
            F.transform(ws_tokens(F.col("text")), lambda t: F.xxhash64(t)).alias(
                "th"
            ),
        )
        # token-less docs carry no signal (an explode-based tally
        # would drop them too)
        .filter(F.size("th") > 0)
    )
    # the vote tally is its own mapInPandas stage (never a PythonUDF
    # expression); the token-hash array dies inside it
    return with_simhash_fp(th, "th", drop=("th",)).select("doc_id", "fp")


def simhash_near_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    cap_multiplier: int = 50,
    cap_ceiling: int | None = 100_000,
) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance <= max_hamming.

    Candidate generation blocks on equal-width fingerprint slices
    (pigeonhole: distance <= max_hamming over n_blocks > max_hamming
    forces >=1 identical block), so the join is equi on (block_idx,
    block_value) — same shuffle shape as the MinHash bands, never
    quadratic. The block count is DERIVED from max_hamming (smallest
    power of two above it that divides 64): a fixed 4-way split would
    silently drop candidates for max_hamming > 3, because a pair at
    distance 4 can differ in every 16-bit quarter.

    Candidate volume needs explicit bounds on large/clone-dense
    corpora (round-4's 10× sweep measured a 7× emitted-pair blowup,
    and narrow 8-bit blocks alone produce ~n²/256 random collisions —
    17M join rows at 50k docs):

    - WIDE candidate keys. When the pigeonhole leaves slack
      (n_blocks − max_hamming ≥ 2), a qualifying pair must share at
      least TWO equal blocks, so candidates join on block PAIRS —
      2·block_bits-wide compound keys. For max_hamming=6 that turns
      8-bit buckets (256 values — useless at corpus scale) into
      16-bit ones: random-collision volume drops from n²/2^8 to
      ~C(8,2)·n²/2^16 and keeps falling quadratically with block
      width. Clone pairs still surface through every combo, and the
      Hamming verification runs INSIDE the join's codegen stage, so
      only true pairs (×duplicate key matches) reach the dedup
      shuffle — the old formulation shuffled the full candidate
      stream first (127 s at 10×; this shape measures ~6 s).
    - `max_bucket` caps degenerate buckets (the near_dedup pattern,
      :198-205) as a hard skew bound. Because deduplication happens
      AFTER per-row verification, a pair survives as long as ANY of
      its equal keys lives in a kept bucket — capping cannot strand
      a pair the way pre-join candidate dedup could.
    - `max_bucket=None` (the default) DERIVES the cap from measured
      clone density: the round-6 sweep adjudicated recall loss on
      clone-dense corpora as cap STARVATION (a clone cluster of
      multiplicity m fills every bucket it touches with ~m rows, so a
      constant cap evicts the very buckets that carry true pairs) and
      shipped the policy `max_bucket = max(300, 50 x replication
      factor)` (SCALE.md). The factor — the max multiplicity of an
      exact fingerprint — costs one scalar agg over the already-
      persisted fingerprint frame. Pass an int to override.

      NOTE: deriving the cap makes this call EAGER — it runs one
      Spark job (fingerprint groupBy → max) at call time rather
      than at first action, unlike the rest of the API. Pass an
      explicit `max_bucket` int to keep plan construction lazy.
    - On adversarially clone-dense corpora the derived cap admits
      O(m²) candidate rows for a clone cluster of multiplicity m;
      `cap_multiplier` tunes the density factor and `cap_ceiling`
      (default 100k — set None to disable) hard-bounds the derived
      cap so a single million-clone cluster cannot drive unbounded
      join volume. Clusters past the ceiling still dedup through
      the exact-fingerprint path (clones are byte-identical up to
      canonicalization); simhash only loses their CROSS-cluster
      near pairs, the documented recall trade of any cap.
    """
    cand, fp = simhash_candidates(
        documents, max_hamming, max_bucket,
        cap_multiplier=cap_multiplier, cap_ceiling=cap_ceiling,
    )
    out = (
        cand.withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_id_a", "doc_id_b"])
        .select("doc_id_a", "doc_id_b", "hamming")
    )
    return unpersist_on_gc(out, fp)


# (app id, analyzed-plan semantic hash, (file, mtime) stamps) -> max
# exact-fingerprint multiplicity; see the derivation note in
# simhash_candidates. Bounded by distinct corpora probed per session.
_SIMHASH_DENSITY_CACHE: dict[tuple, int] = {}


def _file_stamp(uri: str) -> int | None:
    """mtime_ns of a (possibly file://-prefixed) input file, or None.

    Folded into _SIMHASH_DENSITY_CACHE keys so an in-place overwrite
    that keeps the same file names invalidates the memoized density
    factor (same contract as sources/tables.py _source_stamp).
    """
    import os

    path = uri
    if path.startswith("file:"):
        path = path[len("file:"):]
        while path.startswith("//"):
            path = path[1:]
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return None


def simhash_candidates(
    documents: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    cap_multiplier: int = 50,
    cap_ceiling: int | None = 100_000,
) -> tuple[DataFrame, DataFrame]:
    """Blocked candidate rows (doc_id_a, doc_id_b, fp_a, fp_b) — one
    row per colliding key, NOT deduplicated — plus the persisted
    fingerprint frame (callers pass it to unpersist_on_gc / count it
    for stats). Exposed separately so the scale sweep can measure raw
    join volume, the quantity the key-widening and bucket cap bound.

    `max_bucket=None` derives the cap from the exact-fingerprint
    duplication histogram — an EAGER one-job statistics probe at call
    time (see simhash_near_pairs for the policy, the `cap_multiplier`
    knob and the `cap_ceiling` hard bound); pass an int to stay
    lazy."""
    n_blocks = 4
    while n_blocks <= max_hamming:
        n_blocks *= 2
    if n_blocks > 64:
        raise ValueError(f"max_hamming={max_hamming} needs >64 blocks")
    block_bits = 64 // n_blocks
    block_mask = (1 << block_bits) - 1

    def block_of(col: Column, i: int) -> Column:
        return F.shiftrightunsigned(col, block_bits * i).bitwiseAND(
            F.lit(block_mask).cast("long")
        )

    fp = simhash_fingerprints(documents).persist()

    if max_bucket is None:
        # Density-derived cap (policy: max(300, cap_multiplier x
        # replication factor), SCALE.md). One scalar agg over the
        # persisted fingerprint frame — the AQE-statistics pattern,
        # not a driver-side data loop; deterministic (exact max).
        # The factor is memoized per (app, source files) — same
        # pattern as session.ensure_min_partitions' probe cache — so
        # repeated simhash calls over an unchanged corpus pay the
        # eager statistics job once per session, not per call.
        sc = documents.sparkSession.sparkContext
        try:
            # files pin the data's identity across overwrites; the
            # analyzed plan's semantic hash distinguishes different
            # SLICES of the same files (a filtered subset must not
            # reuse the full corpus's density factor). File names
            # alone don't survive in-place overwrites that keep the
            # same names (non-Spark writers, fixed-name generators),
            # so each file's mtime_ns is folded in too — mirroring
            # sources/tables.py's _source_stamp.
            files = tuple(
                sorted((f, _file_stamp(f)) for f in documents.inputFiles())
            )
            sem = documents._jdf.queryExecution().analyzed().semanticHash()
            key = (sc.applicationId, sem, files) if files else None
        except Exception:  # noqa: BLE001 — in-memory frames: no key
            key = None
        factor = _SIMHASH_DENSITY_CACHE.get(key) if key is not None else None
        if factor is None:
            factor = int(
                fp.groupBy("fp")
                .agg(F.count(F.lit(1)).alias("m"))
                .agg(F.max("m"))
                .first()[0]
                or 1
            )
            if key is not None:
                _SIMHASH_DENSITY_CACHE[key] = factor
        max_bucket = max(300, cap_multiplier * factor)
        if cap_ceiling is not None:
            max_bucket = min(max_bucket, cap_ceiling)

    fpc = F.col("fp")
    if n_blocks - max_hamming >= 2:
        # Pigeonhole with slack: distance <= max_hamming over n_blocks
        # leaves >= n_blocks - max_hamming >= 2 equal blocks, so some
        # PAIR of blocks is equal — join on the C(n,2) combined keys.
        keys = [
            F.shiftleft(block_of(fpc, i), block_bits).bitwiseOR(
                block_of(fpc, j)
            )
            for i in range(n_blocks)
            for j in range(i + 1, n_blocks)
        ]
    else:
        keys = [block_of(fpc, i) for i in range(n_blocks)]
    blocks = fp.select(
        "doc_id",
        "fp",
        F.posexplode(F.array(*keys)).alias("block_idx", "block_val"),
    )

    # cap degenerate buckets (clone/spam clusters) — explicit skew bound
    bucket_sizes = blocks.groupBy("block_idx", "block_val").agg(
        F.count(F.lit(1)).alias("bsz")
    )
    blocks = blocks.join(
        F.broadcast(bucket_sizes.filter(F.col("bsz") > max_bucket)),
        ["block_idx", "block_val"],
        "left_anti",
    )

    a = blocks.select(
        "block_idx", "block_val", F.col("doc_id").alias("doc_id_a"), F.col("fp").alias("fp_a")
    )
    b = blocks.select(
        "block_idx", "block_val", F.col("doc_id").alias("doc_id_b"), F.col("fp").alias("fp_b")
    )
    cand = (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", "fp_a", "fp_b")
    )
    return cand, fp


# ---------------------------------------------------------------------------
# exact long-substring duplicate spans (suffix-array-style, distributed)
# ---------------------------------------------------------------------------
def substring_dup_spans(
    documents: DataFrame,
    k: int = 8,
    min_len: int = 20,
    max_df: int | None = 50,
) -> DataFrame:
    """Maximal exact duplicated token spans across documents — the
    distributed re-expression of suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022): find every pair of documents sharing a
    contiguous run of >= `min_len` identical tokens, and report each
    MAXIMAL shared span with its start positions.

    A suffix array is inherently sequential; the distributed
    equivalent is rolling k-token windows + diagonal run merging:

    1. positional k-shingles: every doc emits (pos, gram) for each
       k-token window — order-preserving, NOT distinct (positions
       matter here, unlike Jaccard shingling).
    2. df cap: grams appearing in > `max_df` distinct docs are
       boilerplate (stop phrases); they would make the self-join
       quadratic in df and are dropped, exactly as Lee et al. cap
       suffix-array bucket width. The cap is replayed in the oracle,
       so the registered config stays bit-exact.
    3. shared-gram self-join on gram hash, doc_id_a < doc_id_b.
    4. diagonal run merge: matches (pa, pb) with equal diagonal
       pa - pb and consecutive pa belong to ONE shared substring;
       the islands-and-gaps trick (run id = pa - row_number() within
       (pair, diagonal)) merges them without any sequential scan. A
       run of m overlapping k-windows is a shared span of m + k - 1
       tokens.

    Scale shape: one shuffle keyed by gram for the df cap + join
    (co-partitioned), one window keyed by (pair, diagonal) whose
    partitions are bounded by document length — never by corpus
    size. The df cap is the explicit skew bound: without it one
    viral sentence makes the join O(df^2).

    Returns (doc_id_a, doc_id_b, start_a, start_b, span_tokens), one
    row per maximal span >= min_len. Deterministic: the span set is
    a pure function of the corpus.
    """
    from pyspark.sql import Window

    t = ws_tokens(F.col("text"))
    toks = documents.select("doc_id", t.alias("t"))

    n_sh = F.size(F.col("t")) - (k - 1)
    grams = toks.select(
        "doc_id",
        F.when(
            n_sh > 0,
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, k)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("grams"),
    )
    sh = grams.select(
        "doc_id", F.posexplode("grams").alias("pos", "gram")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "gram")

    if max_df is not None:
        # drop boilerplate grams BEFORE the self-join; keyed by gram,
        # the same shuffle partitioning the join needs
        df_tab = sh.groupBy("gram").agg(
            F.count_distinct("doc_id").alias("df")
        )
        sh = sh.join(
            df_tab.filter(F.col("df") > max_df), "gram", "left_anti"
        )

    a = sh.select(
        F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "gram"
    )
    b = sh.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "gram"
    )
    m = (
        a.join(b, "gram")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )

    w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = m.withColumn("rid", F.col("pa") - F.row_number().over(w))
    spans = runs.groupBy("da", "db", "diag", "rid").agg(
        F.min("pa").alias("start_a"),
        F.min("pb").alias("start_b"),
        (F.count(F.lit(1)) + (k - 1)).alias("span_tokens"),
    )
    return (
        spans.filter(F.col("span_tokens") >= min_len)
        .select(
            F.col("da").alias("doc_id_a"),
            F.col("db").alias("doc_id_b"),
            "start_a",
            "start_b",
            "span_tokens",
        )
        .orderBy("doc_id_a", "doc_id_b", "start_a", "start_b")
    )


def substring_dedup_apply(
    documents: DataFrame,
    spans: DataFrame | None = None,
    k: int = 8,
    min_len: int = 20,
    max_df: int | None = 50,
) -> DataFrame:
    """APPLY substring dedup: cut each duplicated span from the
    LATER document (higher doc_id) and rebuild its text — the second
    half of Lee et al. 2022's suffix-array dedup, which removes one
    occurrence of every duplicated sequence rather than dropping
    whole documents.

    `spans` defaults to `substring_dup_spans(documents, ...)` with the
    same parameters. Removal semantics: for every span row, the
    doc_id_b side loses tokens [start_b, start_b + span_tokens);
    doc_id_a keeps its occurrence (ties broke a < b upstream, so the
    EARLIEST document always retains the text). Overlapping spans on
    one doc union naturally — a token is dropped if ANY span covers
    it.

    Scale shape: spans aggregate per victim doc into one array
    (grouped shuffle keyed by doc_id, bounded by spans-per-doc, never
    corpus size), join back to the corpus on doc_id, and the cut is
    one in-row higher-order expression — token i survives when no
    span covers it — so the corpus-side cost is a single join plus
    per-row compute linear in tokens x spans-per-doc. Docs with no
    spans pass through untouched (left join, empty-array default).

    Returns (doc_id, n_tokens_before, n_tokens_after, clean_text):
    whitespace-normalized (the tokenizer is `ws_tokens`, so the
    rebuilt text is the space-join of surviving tokens — byte layout
    inside removed whitespace runs is not preserved, content is).
    """
    if spans is None:
        spans = substring_dup_spans(documents, k=k, min_len=min_len, max_df=max_df)
    cuts = (
        spans.select(
            F.col("doc_id_b").alias("doc_id"),
            F.struct(
                F.col("start_b").alias("start"),
                F.col("span_tokens").alias("len"),
            ).alias("cut"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list("cut").alias("cuts"))
    )
    t = ws_tokens(F.col("text"))
    toks = documents.select("doc_id", t.alias("t")).join(
        cuts, "doc_id", "left"
    )
    covered = lambda i: F.exists(  # noqa: E731 — tiny plan-side helper
        F.coalesce(
            F.col("cuts"),
            F.array().cast("array<struct<start:long,len:long>>"),
        ),
        lambda c: (i >= c.getField("start"))
        & (i < c.getField("start") + c.getField("len")),
    )
    # guard: sequence(0, -1) on an empty token array steps DOWNWARD
    # (the word_shingles short-doc hazard) — empty docs pass through
    kept = F.when(F.size("t") > 0, F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size("t") - 1),
            lambda i: F.when(~covered(i), F.element_at("t", i + 1)),
        ),
        lambda x: x.isNotNull(),
    )).otherwise(F.array().cast("array<string>"))
    return toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens_before"),
        F.size(kept).cast("long").alias("n_tokens_after"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )
