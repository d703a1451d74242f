"""Similarity search over embedding columns (array<float>).

Two paths, per the scale contract:

- brute-force exact top-k — the correctness baseline. Query set ⋈
  corpus with the query side broadcast, cosine as a pure column
  expression (zip_with + aggregate, JVM-side), per-query top-k via
  window row_number. Cost O(|Q|·|corpus|·dim): right when |Q| is
  small or as the verifier for ANN.
- random-hyperplane LSH — the 100 TB path. Sign-pattern bucketing
  with deterministic pseudo-random hyperplanes derived from
  xxhash64 (no stored model, reproducible across runs/executors),
  multi-probe via several independent tables; candidates are only
  same-bucket pairs, then exact cosine re-rank.

The IVF variant (k-means coarse quantizer + nprobe search) slots into
the same candidate->rerank frame: assign corpus vectors to their
nearest centroid once (one pass, one small broadcast of centroids),
probe only the `nprobe` nearest cells per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from elb_log_to_mysql_spark.functions.vectorops import (
    arrow_stage,
    with_center_distances,
    with_lsh_buckets,
    with_pairwise_cosine,
)
from elb_log_to_mysql_spark.session import ensure_min_partitions


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns, accumulated in
    double, left-to-right (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def similarity_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    `queries` (small) is broadcast, so the corpus never shuffles for
    the join; the only shuffle is the per-query top-k window on
    |Q|·|corpus| scored pairs, which AQE coalesces. Tiebreak on
    neighbor id keeps the k-boundary deterministic.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = ensure_min_partitions(embeddings).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    # cosine runs as its own mapInPandas stage and the vectors are
    # dropped inside it — the rank shuffle moves only id/score triples
    scored = with_pairwise_cosine(
        c.crossJoin(F.broadcast(q)).filter(
            F.col("query_id") != F.col("neighbor_id")
        ),
        "q_vec",
        "c_vec",
        drop=("q_vec", "c_vec"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def _hyperplanes(n_tables: int, n_planes: int, dim: int, seed: int = 42):
    """Deterministic random hyperplanes as plain Python floats.

    Seeded numpy Gaussians baked into the plan as array literals:
    reproducible across runs/executors with zero stored model state,
    and far cheaper than deriving components with per-element hash
    expressions (the literals fold into codegen constants).
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(n_tables, n_planes, dim)


def lsh_bucket(vec: Column, planes) -> Column:
    """Bucket id = packed sign pattern of <vec, h_p> over the planes."""
    bucket = F.lit(0)
    for plane in planes:
        comps = F.array(*[F.lit(float(c)) for c in plane])
        dot = F.aggregate(
            F.zip_with(vec, comps, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket * 2 + (dot >= 0).cast("int")
    return bucket


def similarity_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    with_stats: bool = False,
):
    """Approximate cosine top-k: hyperplane-LSH candidates, exact rerank.

    Each vector lands in n_tables buckets (independent sign patterns);
    query x corpus joins are equi on (table, bucket) — at 100 TB this
    replaces the |Q|·|corpus| scan with |Q|·E[bucket size]·n_tables.

    Recall/cost trade-off: P(collide in one table) = p^n_planes with
    p = 1 - θ/π; recall over tables = 1-(1-p^planes)^tables. Short
    patterns + more tables favor recall (defaults 4×8 give ~0.9+ for
    cos≈0.8 neighbors); raise n_planes as corpus density grows to
    keep buckets small. `derive_lsh_params` replaces hand-picking
    (planes, tables) with corpus-measured geometry (the round-14
    derived-controls leg: depth/band → nprobe → LSH config).

    ``with_stats=True`` returns ``(result, stats_df)`` where stats_df
    is per-query candidate-volume telemetry (query_id, candidates =
    pre-dedup bucket-join rows — the measured scan cost this config
    actually paid; one row per DISTINCT query, candidates = 0 when a
    query collided with nothing, which is exactly the recall-at-risk
    case the telemetry exists to surface). Collecting it re-executes
    the bucket join — an accepted second pass, same contract as the
    PQ admission telemetry's re-run of the ADC scan.
    """

    planes = _hyperplanes(n_tables, n_planes, dim)

    # All n_tables bucket ids come from ONE Arrow-batched matmul per
    # row batch (functions/vectorops.py): Spark's higher-order array
    # functions are interpreted, and evaluating n_tables·n_planes
    # literal-array dot products per row through them is ~1000× slower
    # than BLAS on the same batch. The matmul is its own mapInPandas
    # stage; the explode stays JVM-side over its output column.
    def bucketize(df: DataFrame, idc: str, vecc: str) -> DataFrame:
        return with_lsh_buckets(df, vecc, planes).select(
            F.col(idc),
            F.col(vecc),
            F.posexplode("_bks").alias("table_idx", "bucket"),
        )

    qb = bucketize(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        ),
        "query_id",
        "q_vec",
    )
    cb = bucketize(
        ensure_min_partitions(embeddings).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ),
        "neighbor_id",
        "c_vec",
    )
    # Cosine is computed in the (map-side) join stage and the vectors
    # are dropped immediately: the dedup + rank shuffles then move only
    # (query_id, neighbor_id, cos) triples. A same-pair collision in
    # multiple tables recomputes a cosine instead of shuffling two
    # dim-width arrays twice — compute is cheaper than exchange bytes.
    joined = cb.join(F.broadcast(qb), ["table_idx", "bucket"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cand = (
        with_pairwise_cosine(
            joined,
            "q_vec",
            "c_vec",
            drop=("q_vec", "c_vec"),
        )
        .select("query_id", "neighbor_id", "cos")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    out = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )
    if not with_stats:
        return out
    # left join from the distinct query set so zero-collision queries
    # surface as candidates = 0 instead of vanishing from the frame
    counts = joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_c")
    )
    stats = (
        queries.select(F.col("vec_id").alias("query_id"))
        .distinct()
        .join(counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("_c", F.lit(0)).cast("long").alias("candidates"),
        )
    )
    return out, stats


def lsh_config_search(
    p_near: float,
    p_rand: float,
    design_floor: float,
    max_planes: int,
    max_tables: int,
):
    """Pure driver-side search for the cheapest sound LSH config.

    For each plane count b take the smallest table count T whose
    theoretical recall 1-(1-p_near^b)^T covers design_floor, reject
    T > max_tables, price it at the modeled scan fraction
    T·p_rand^b, reject >= 1 (expecting to scan the corpus means brute
    wins), return the cheapest survivor as (b, T, fraction) — or None
    when nothing qualifies (the caller's refusal path). Pure math, no
    Spark: the hypothesis property suite re-derives every decision
    against a from-scratch reimplementation and pins the soundness
    and floor-monotonicity theorems."""
    import math

    if not 0.0 < design_floor < 1.0:
        raise ValueError(
            f"design_floor must be in (0, 1), got {design_floor}"
        )
    if max_planes < 1 or max_tables < 1:
        raise ValueError(
            f"need max_planes >= 1 and max_tables >= 1, got "
            f"({max_planes}, {max_tables})"
        )
    best = None
    for b in range(1, max_planes + 1):
        pb = p_near**b
        if pb >= 1.0:
            t = 1
        elif pb <= 0.0:
            continue
        else:
            # log1p keeps the denominator nonzero when pb underflows
            # 1.0-pb (tiny pb -> astronomically large t -> cap-skipped,
            # instead of a ZeroDivisionError)
            t = math.ceil(
                math.log(1.0 - design_floor) / math.log1p(-pb)
            )
        # the cap applies to BOTH branches: with max_tables = 0 the
        # pb >= 1.0 path's t = 1 would otherwise leak a config past
        # the caller's cap instead of refusing (ADVICE r14)
        if t > max_tables:
            continue
        frac = lsh_scan_fraction(p_rand, b, t)
        if frac >= 1.0:
            continue
        if best is None or frac < best[2]:
            best = (b, t, frac)
    return best


def lsh_scan_fraction(p_rand: float, n_planes: int, n_tables: int) -> float:
    """Modeled fraction of the corpus an LSH config scans per query:
    tables × the random-pair per-table collision rate. Pure math —
    prices ANY (planes, tables) under a measured geometry (the
    ann_lsh_auto gate uses it to convict the certified fixed config
    on the corpus's own p_rand)."""
    return n_tables * p_rand**n_planes


def derive_lsh_params(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    floor: float = 0.95,
    sample_rows: int | None = 2048,
    query_sample: int = 64,
    max_planes: int = 16,
    max_tables: int = 64,
) -> dict:
    """DERIVED hyperplane-LSH search controls (planes, tables) from
    corpus-measured geometry — the last fixed ANN constants after the
    PQ depth/band (round 12/13) and IVF nprobe (round 14) derivations.

    Hand-picked LSH configs fail in two opposite ways, and only one of
    them is visible in a recall gate:

    - too few tables / too many planes → silent recall loss on
      wide-angle neighbors (the failure the recall floor catches);
    - too few planes / many tables → a config that PASSES every recall
      audit while scanning MORE than the corpus per query batch. The
      gate-certified fixed config (3 planes × 24 tables) is exactly
      this: expected random-pair scan fraction 24/2^3 = 3.0 — recall
      is bulletproof (≥0.95 even for neighbors at θ=90°) because the
      config does three brute-force scans' worth of candidate work.
      At 100 TB that is strictly worse than one exact scan; no recall
      gate can ever flag it.

    The derivation measures both angles the theory needs, on a
    deterministic hash-ordered sample (one tiny eager job — the
    established derived-controls cost):

    1. θ_near — the WIDEST k-th-neighbor angle over sampled queries
       vs the corpus sample. A sample's k-th best cosine lower-bounds
       the corpus's (subset ⊆ corpus), so the sampled angle is wider,
       i.e. CONSERVATIVE: configs chosen for θ_near cover the true
       neighbors a fortiori. Clustered corpora need the sample dense
       enough to catch ≥ k cluster siblings per query (sample_rows ≥
       k·n/cluster_size, or the full corpus when n is small) — an
       undersized sample sees only random-pair angles and errs toward
       the brute fallback: sound, never fast-but-wrong.
    2. θ_rand — the median query×corpus angle, the collision rate a
       RANDOM (non-neighbor) row pays per plane; drives the cost model.

    Per-table collision for a pair at angle θ is p(θ)^b with
    p = 1-θ/π; recall over T independent tables is 1-(1-p^b)^T. The
    search: for each b ≤ max_planes take the smallest T meeting a
    design floor of (1+floor)/2 at θ_near (the ceil + the headroom
    between design floor and gate floor + θ_near's conservatism are
    the regeneration margin), reject T > max_tables, estimate the
    scan fraction T·p(θ_rand)^b, reject ≥ 1 (an LSH config that
    expects to scan the whole corpus is pointless), and keep the
    cheapest survivor.

    REFUSAL ARITHMETIC: when no (b, T) under the caps meets the floor
    at sub-scan cost the method returns ``{"method": "brute"}`` with a
    RuntimeWarning: an exact scan is the only sound answer on data
    whose neighbors are indistinguishable from noise, and the caller
    falls back to similarity_topk_bruteforce. When neighbors collide
    no better than random pairs (p_near ≤ p_rand), refusal is
    PROVABLE unless a single table already covers the floor: any
    covering T satisfies T ≥ L/-ln(1-p_near^b) with L = -ln(1-floor'),
    so the modeled fraction T·p_rand^b ≥ L·g(p_near^b) with
    g(x) = x/-ln(1-x) — and g(x) < 1/L requires p_near^b above ~x*
    where -ln(1-x*) = L·x* (x* ≈ 0.972 at floor' 0.975), i.e. the
    whole-cluster one-table regime, which IS a sound sublinear plan
    when it exists. Everywhere below that, the fraction is pinned
    ≥ 1 and the refusal fires. (The orthogonal-corpus unit test pins
    the p_near = p_rand = 0.5 instance.)

    Returns a dict of PLAIN SCALARS (storable with the index as
    JSON — the serving contract): method ('lsh'|'brute'), n_planes,
    n_tables, theta_near/theta_rand (radians), p_near/p_rand (the
    per-plane collision rates), design_floor, est_scan_fraction (the
    chosen config's modeled fraction; None on brute). Price any other
    (b, T) under the same measured geometry with
    ``lsh_scan_fraction(p_rand, b, t)`` — the gate uses it to convict
    the certified fixed config on the corpus's own angles.
    """
    import math
    import warnings

    if not 0.0 < floor < 1.0:
        raise ValueError(f"floor must be in (0, 1), got {floor}")
    if (
        k < 1
        or (sample_rows is not None and sample_rows < k + 1)
        or query_sample < 1
    ):
        raise ValueError(
            f"need k >= 1, sample_rows > k (or None), query_sample >= 1 "
            f"(got k={k}, sample_rows={sample_rows}, "
            f"query_sample={query_sample})"
        )

    # Deterministic samples: hash-order + limit is a partial top-k per
    # partition + tiny driver merge, never a full sort of the corpus.
    # sample_rows=None means the corpus IS the sample: callers whose
    # coverage law (sample >= safety*k*n/cluster_size) already demands
    # ~the whole corpus skip the pointless global hash-order entirely
    # (ADVICE r14: the sort+limit were pure cost when limit >= n).
    cs = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    if sample_rows is not None:
        cs = cs.orderBy(F.xxhash64(F.col("neighbor_id"))).limit(sample_rows)
    qs = (
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        )
        .orderBy(F.xxhash64(F.col("query_id")))
        .limit(query_sample)
    )
    scored = with_pairwise_cosine(
        cs.crossJoin(F.broadcast(qs)).filter(
            F.col("query_id") != F.col("neighbor_id")
        ),
        "q_vec",
        "c_vec",
        drop=("q_vec", "c_vec"),
    ).select("query_id", "cos")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc())
    row = (
        scored.withColumn("rank", F.row_number().over(w))
        .agg(
            F.min(F.when(F.col("rank") == k, F.col("cos"))).alias("kth_cos"),
            F.percentile_approx("cos", 0.5).alias("med_cos"),
        )
        .collect()[0]
    )
    kth_cos = row["kth_cos"]
    med_cos = row["med_cos"]
    if kth_cos is None:
        raise ValueError(
            f"corpus sample too small: no query saw {k} neighbors"
        )
    theta_near = math.acos(max(-1.0, min(1.0, float(kth_cos))))
    theta_rand = math.acos(max(-1.0, min(1.0, float(med_cos))))
    p_near = max(1e-12, 1.0 - theta_near / math.pi)
    p_rand = max(1e-12, 1.0 - theta_rand / math.pi)

    design_floor = (1.0 + floor) / 2.0

    best = lsh_config_search(
        p_near, p_rand, design_floor, max_planes, max_tables
    )

    # plain scalars only: the serving contract stores this dict with
    # the index (JSON/pickle), so no closures may ride in it — price
    # other configs on the same geometry via lsh_scan_fraction(p_rand,
    # b, t)
    out = {
        "theta_near": theta_near,
        "theta_rand": theta_rand,
        "p_near": p_near,
        "p_rand": p_rand,
        "kth_cos": float(kth_cos),
        "design_floor": design_floor,
    }
    if best is None:
        warnings.warn(
            f"derive_lsh_params: no (planes <= {max_planes}, tables <= "
            f"{max_tables}) meets recall {design_floor:.3f} at "
            f"k-th-neighbor angle {math.degrees(theta_near):.1f}deg below "
            f"full-scan cost — falling back to the exact brute scan, the "
            f"only sound answer when neighbors are indistinguishable "
            f"from random pairs (median angle "
            f"{math.degrees(theta_rand):.1f}deg)",
            RuntimeWarning,
            stacklevel=2,
        )
        out.update(method="brute", n_planes=None, n_tables=None,
                   est_scan_fraction=None)
        return out
    b, t, frac = best
    out.update(method="lsh", n_planes=b, n_tables=t,
               est_scan_fraction=frac)
    return out


def similarity_topk_lsh_auto(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    floor: float = 0.95,
    dim: int = 64,
    with_stats: bool = False,
    params: dict | None = None,
):
    """Hyperplane-LSH top-k with DERIVED (planes, tables) — or the
    exact brute scan when the derivation's refusal arithmetic proves
    LSH cannot beat it at the recall floor (derive_lsh_params).

    Plan construction is EAGER (the derivation samples the corpus,
    one tiny job). The production serving shape mirrors the PQ depth
    contract: run derive_lsh_params once at index build, store the
    dict with the index, and pass it back via ``params`` — zero eager
    jobs per query batch.
    """
    p = params or derive_lsh_params(embeddings, queries, k=k, floor=floor)
    if p["method"] == "brute":
        out = similarity_topk_bruteforce(embeddings, queries, k=k)
        if not with_stats:
            return out
        # Brute scans the full corpus once per query — report the
        # corpus size (including the self row the scorer drops: this
        # is rows SCANNED, not rows scored) so cost telemetry stays
        # comparable across branches. The count rides as a lazy agg
        # crossJoin, keeping the no-eager-jobs contract when params
        # was precomputed.
        cnt = embeddings.agg(
            F.count(F.lit(1)).cast("long").alias("candidates")
        )
        stats = (
            queries.select(F.col("vec_id").alias("query_id"))
            .distinct()
            .crossJoin(F.broadcast(cnt))
        )
        return out, stats
    return similarity_topk_lsh(
        embeddings,
        queries,
        k=k,
        dim=dim,
        n_planes=p["n_planes"],
        n_tables=p["n_tables"],
        with_stats=with_stats,
    )


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float,
    method: str = "exact",
    dim: int = 64,
    n_planes: int = 2,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b with
    cosine >= threshold).

    Two routes, chosen by `method` (callers route on corpus size from
    table stats — a runtime count here would put a driver action in
    the query path):

    - ``exact``: all-pairs with the smaller side broadcast — O(n²·dim).
      The verification-scale ground truth the approximate path is
      measured against.
    - ``lsh``: the 100 TB path. Hyperplane-LSH buckets generate
      candidates (same sign-pattern tables as `similarity_topk_lsh`),
      so the join is equi on (table, bucket) and only same-bucket
      pairs are scored; exact cosine reranks candidates. Recall for a
      pair at angle θ is 1-(1-p^planes)^tables with p = 1-θ/π — the
      short-pattern/many-table default (2×16) gives ≥0.98 at
      cos ≥ 0.45, higher for tighter thresholds.

    Output carries pair ids but not the float score: engines disagree
    at ~1e-7 (float32 vs double accumulation), so the checkable
    contract is membership under a threshold with margin, not score
    bits.
    """
    if method == "lsh":
        return embedding_near_dup_lsh(
            embeddings, threshold, dim, n_planes, n_tables, seed
        )
    a = ensure_min_partitions(embeddings).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a")
    )
    b = embeddings.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b")
    )
    return (
        with_pairwise_cosine(
            a.join(F.broadcast(b), F.col("id_a") < F.col("id_b")),
            "vec_a",
            "vec_b",
            out="_cos",
            drop=("vec_a", "vec_b"),
        )
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b")
    )


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float,
    dim: int = 64,
    n_planes: int = 2,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """LSH-candidate near-dup pairs: bucketed equi-join, exact rerank.

    Each vector lands in n_tables sign-pattern buckets (one Arrow
    matmul per batch); candidate pairs are same-(table, bucket) only,
    so cost is O(n·E[bucket]·tables) instead of O(n²). Cosine is
    evaluated in the join stage and the vectors dropped immediately —
    the pair-dedup shuffle moves only (id_a, id_b) that already passed
    the threshold.
    """
    planes = _hyperplanes(n_tables, n_planes, dim, seed)
    bucketed = with_lsh_buckets(
        ensure_min_partitions(embeddings).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        ),
        "vec",
        planes,
    ).select(
        "id", "vec", F.posexplode("_bks").alias("table_idx", "bucket")
    )
    left = bucketed.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"),
        "table_idx", "bucket",
    )
    right = bucketed.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vec_b"),
        "table_idx", "bucket",
    )
    return (
        with_pairwise_cosine(
            left.join(right, ["table_idx", "bucket"]).filter(
                F.col("id_a") < F.col("id_b")
            ),
            "vec_a",
            "vec_b",
            out="_cos",
            drop=("vec_a", "vec_b"),
        )
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def derive_ivf_cells(
    n_rows: int,
    expected_probes: int = 8,
    min_cells: int = 16,
    max_cells: int = 4096,
    train_rows_per_cell: int = 50,
) -> int:
    """Derived IVF cell count — the index-BUILD control complementing
    the fully-derived SEARCH controls (PQ depth/band, nprobe prune,
    LSH planes/tables). Pure math from table statistics; no Spark.

    Per-query serving work with C cells is ~ C centroid distances
    (the probe-set decision) + E[probed]·n/C member rows (the scan) —
    minimized at C* = sqrt(E[probed]·n), turning the per-query scan
    from O(n) at a fixed small C into O(sqrt(n)). Two clamps keep the
    optimum honest: Lloyd training needs ~train_rows_per_cell sample
    points per centroid to estimate it (cells ≤ n/train_rows_per_cell
    — at gate scale, 500 rows, this clamp plus min_cells lands
    exactly on the certified default 16, so deriving changes nothing
    where the fixed value was already right), and max_cells bounds
    the broadcast centroid matrix. ``expected_probes`` is the
    anticipated probe width — the floor for a deduped corpus, wider
    for noisy ones; the ivf_auto prune then derives the ACTUAL probe
    set per query at serving time, so this knob only shapes the
    index, never correctness.

    SCOPE (measured, IVF_CELLS_PROBE_320x.json): the optimum prices
    the MARGINAL per-query scan of a PREBUILT index. At 320× the
    derived 2263 cells cut the sound prune's probed fraction 800×
    (0.92 → 0.0011 of cells, recall 1.0 on both indexes) — but Lloyd
    training and the corpus→cell assignment pass both scale with C,
    so an operator that builds its index inline (the ad-hoc
    similarity_topk_ivf_auto path) gets SLOWER at C*, not faster
    (373 s vs 36 s at 320×). Use this derivation when the assignment
    is computed once at index build and stored partitioned by cell
    (the production shape); keep the modest fixed default for inline
    one-shot calls."""
    import math

    if n_rows < 1:
        raise ValueError(f"n_rows must be >= 1, got {n_rows}")
    if expected_probes < 1:
        raise ValueError(
            f"expected_probes must be >= 1, got {expected_probes}"
        )
    if not 1 <= min_cells <= max_cells:
        raise ValueError(
            f"need 1 <= min_cells <= max_cells, got "
            f"({min_cells}, {max_cells})"
        )
    c = round(math.sqrt(expected_probes * n_rows))
    c = min(c, max_cells, max(1, n_rows // train_rows_per_cell))
    # n_rows is the outermost cap: min_cells is a floor for training
    # quality, not a license to ask Lloyd for more centers than there
    # are points (k > n breaks len(centers) == derive_ivf_cells(n)
    # consistency on tiny corpora — ADVICE r14)
    return min(n_rows, max(min_cells, c))


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_train_rows: int = 100_000,
    sample_fraction: float | None = None,
):
    """Offline IVF quantizer training — run ONCE, persist the result.

    Returns the (n_centroids, dim) float64 centroid matrix. This is
    deliberately NOT part of the search path: training is an iterative
    MLlib job and belongs with index builds, not queries. At scale,
    pass `sample_fraction` sized from table statistics (known offline
    — no runtime `count()` here); the `limit` bounds the Lloyd
    iterations' input either way, and the tiny capped set is cached so
    the 10 iterations don't rescan the source.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    import numpy as np

    sampled = (
        embeddings.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction is not None
        else embeddings
    )
    train = (
        sampled.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        .limit(max_train_rows)
        .coalesce(8)
        .cache()
    )
    try:
        model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(train)
    finally:
        train.unpersist()
    return np.array([list(c) for c in model.clusterCenters()])


def similarity_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) search.

    1. Coarse quantizer = precomputed `centroids` (train once offline
       via `train_ivf_centroids`, persist, reuse across queries — the
       model is |centroids|·dim floats, tiny). If omitted, training is
       run inline as a convenience for ad-hoc/local use; production
       query paths should always pass centroids so the search is pure
       plan construction with no driver-side action or ML job.
    2. Assign every corpus vector to its nearest centroid — one pass,
       centroids baked into the plan as literals, pure expressions.
    3. Per query, probe the `nprobe` nearest cells only; candidates
       join equi on cell id, then exact cosine rerank.

    Cost per query falls from O(|corpus|) to O(|corpus|·nprobe/
    n_centroids) expected; the equi-join on cell id shuffles the
    corpus once and is AQE-skew-handled if cells are unbalanced.
    Recall loss is bounded by neighbors living in unprobed cells —
    raise nprobe to trade cost for recall.
    """
    import numpy as np

    centers = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else train_ivf_centroids(embeddings, n_centroids, seed=seed)
    )

    # One Arrow-batched matmul (its own mapInPandas stage) yields all
    # centroid distances per batch (functions/vectorops.py) — the
    # HOF-expression equivalent is interpreted per row and dominated
    # total runtime; cell selection stays JVM-side over the output.
    corpus = with_center_distances(
        ensure_min_partitions(embeddings).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ),
        "c_vec",
        centers,
    ).select("neighbor_id", "c_vec", _nearest_cell_expr().alias("cell"))
    probed = with_center_distances(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        ),
        "q_vec",
        centers,
    ).select(
        "query_id",
        "q_vec",
        F.explode(
            _probe_cells_expr(F.col("_dists"), len(centers), nprobe)
        ).alias("cell"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    scored = with_pairwise_cosine(
        corpus.join(F.broadcast(probed), "cell").filter(
            F.col("query_id") != F.col("neighbor_id")
        ),
        "q_vec",
        "c_vec",
        drop=("q_vec", "c_vec"),
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def _ivf_assign(normed: DataFrame, centers) -> DataFrame:
    """Corpus→cell assignment frame (neighbor_id, c_vec, cell, _own_d)
    — the index-build pass shared by the inline ivf_auto path and
    build_ivf_index. Cost scales with n_cells·n_rows (one Arrow
    matmul), which is why it belongs at index build, not per query
    batch (IVF_CELLS_PROBE_320x: this pass dominates the inline wall
    at the derived cell count)."""
    return with_center_distances(normed, "c_vec", centers).select(
        "neighbor_id",
        "c_vec",
        _nearest_cell_expr().alias("cell"),
        F.sqrt(F.array_min("_dists")).alias("_own_d"),
    )


def build_ivf_index(
    embeddings: DataFrame,
    centroids=None,
    n_centroids: int | None = None,
    expected_probes: int = 8,
) -> dict:
    """Build-once IVF index artifacts for similarity_topk_ivf_auto's
    ``index=`` handoff — the production shape the cell-count sqrt law
    (derive_ivf_cells) is scoped to: training and the C·n assignment
    pass run HERE, once; query batches then pay only the marginal
    probe + scan. n_centroids defaults to derive_ivf_cells over the
    corpus count when centroids are not supplied. The assigned corpus
    is persisted and materialized; the caller owns its lifetime
    (``index["corpus"].unpersist()`` when retiring the index — query
    calls never release caller-owned state). At storage scale the
    same frame is written partitioned by ``cell`` and the serving
    scan prunes partitions instead of cached rows."""
    import numpy as np

    from elb_log_to_mysql_spark.functions.vectorops import with_unit_norm

    normed = with_unit_norm(
        ensure_min_partitions(embeddings).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_v")
        ),
        "_v",
        out="c_vec",
        drop=("_v",),
    )
    if centroids is not None:
        centers = np.asarray(centroids, dtype=np.float64)
    else:
        cells = (
            n_centroids
            if n_centroids is not None
            else derive_ivf_cells(
                embeddings.count(), expected_probes=expected_probes
            )
        )
        centers = train_ivf_centroids(normed, cells, "c_vec")
    corpus = _ivf_assign(normed, centers).persist()
    corpus.count()  # materialize: the build pays the assignment, not the first query
    return {
        "centers": centers,
        "corpus": corpus,
        # the ANTICIPATED per-query corpus-scan fraction (the design
        # probe width over the cell count) — what filtered ANN's
        # chooser compares against the predicate's selectivity; the
        # ivf_auto prune then derives the ACTUAL probe set per query
        "expected_scan_fraction": min(
            1.0, expected_probes / max(1, len(centers))
        ),
    }


IVF_INDEX_FORMAT = "ivf-index"
IVF_INDEX_VERSION = 1


def persist_ivf_index(
    index: dict,
    path: str,
    codebooks=None,
    rerank_depth: int | None = None,
) -> dict:
    """Write a build_ivf_index result to DURABLE storage — the last
    step from "cached DataFrame" to production index (VERDICT r14
    item 1). Layout under ``path``:

    - ``corpus/``  — the assigned corpus (neighbor_id, c_vec, _own_d)
      as parquet PARTITIONED BY ``cell``: at serving time the probe
      set becomes a static partition filter, so a FileSourceScan
      reads ONLY the probed cells' directories (the
      partition_pruning pattern applied to ANN — at 100 TB the
      difference between reading E[probed]/C of the corpus and all
      of it, across restarts).
    - ``cells/``   — one row per cell: the float64 centroid (parquet
      doubles are EXACT, so the reloaded geometry is bit-identical —
      a lossy JSON round trip could shave the triangle-inequality
      radii and unsound the prune), the cell RADIUS (max member
      distance, the prune's r_j) and member count. Radii move from a
      per-serving corpus aggregation to an index artifact: a fresh
      session never scans the full corpus just to re-derive them.
    - ``manifest/``— one JSON row (format, version, n_cells, dim,
      n_rows) for validation and capacity planning.
    - ``pq/`` (optional) — the PQ codebooks (train_pq_codebooks'
      (m, n_codes, d_sub) tensor as (subspace, code, center) rows,
      float64-exact) plus the stored exact-rerank depth
      (derive_pq_rerank_factor) in the manifest, when given. With
      them the artifact carries the FULL serving-control set —
      centroids, radii, codebooks, depth — so both the exact IVF
      prune and the IVFPQ/ADC path serve from one durable layout
      with zero derivations at query time.

    Everything goes through the DataFrame writer, so ``path`` may be
    any Hadoop-compatible URI (local, HDFS, s3a). Returns a summary
    dict (n_cells, dim, n_rows). The in-memory ``index`` stays
    usable; reload with load_ivf_index."""
    import os as _os

    corpus = index["corpus"]
    centers = index["centers"]
    spark = corpus.sparkSession
    corpus.write.partitionBy("cell").mode("overwrite").parquet(
        _os.path.join(path, "corpus")
    )
    stats = {
        int(r["cell"]): (float(r["radius"]), int(r["n_members"]))
        for r in corpus.groupBy("cell")
        .agg(
            F.max("_own_d").alias("radius"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .collect()
    }
    cells_rows = [
        (
            c,
            [float(x) for x in centers[c]],
            stats.get(c, (0.0, 0))[0],
            stats.get(c, (0.0, 0))[1],
        )
        for c in range(len(centers))
    ]
    spark.createDataFrame(
        cells_rows,
        "cell int, center array<double>, radius double, n_members bigint",
    ).coalesce(1).write.mode("overwrite").parquet(_os.path.join(path, "cells"))
    n_rows = sum(n for _, n in stats.values())
    dim = int(len(centers[0])) if len(centers) else 0
    frac = float(
        index.get(
            "expected_scan_fraction", min(1.0, 8 / max(1, len(centers)))
        )
    )
    pq_shape = None
    if codebooks is not None:
        import numpy as np

        cb = np.asarray(codebooks, dtype=np.float64)
        pq_shape = [int(x) for x in cb.shape]  # (m, n_codes, d_sub)
        spark.createDataFrame(
            [
                (j, c, [float(x) for x in cb[j, c]])
                for j in range(cb.shape[0])
                for c in range(cb.shape[1])
            ],
            "subspace int, code int, center array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(path, "pq")
        )
    spark.createDataFrame(
        [
            (
                IVF_INDEX_FORMAT,
                IVF_INDEX_VERSION,
                len(centers),
                dim,
                n_rows,
                frac,
                pq_shape,
                rerank_depth,
            )
        ],
        "format string, version int, n_cells int, dim int, n_rows bigint, "
        "expected_scan_fraction double, pq_shape array<int>, "
        "rerank_depth int",
    ).coalesce(1).write.mode("overwrite").json(_os.path.join(path, "manifest"))
    return {"n_cells": len(centers), "dim": dim, "n_rows": n_rows}


def load_ivf_index(spark, path: str) -> dict:
    """Reload a persist_ivf_index artifact in a (possibly fresh)
    session. The centroid matrix and per-cell radii — tiny by
    construction (n_cells × dim, bounded by derive_ivf_cells'
    max_cells clamp) — come to the driver; the corpus stays a LAZY
    partitioned-parquet scan that similarity_topk_ivf_auto prunes to
    the probed cells per query batch. Raises on a missing/foreign
    manifest so a wrong path fails loudly, not with empty results."""
    import os as _os

    import numpy as np

    m = spark.read.json(_os.path.join(path, "manifest")).first()
    if m is None or m["format"] != IVF_INDEX_FORMAT:
        raise ValueError(f"not an IVF index: {path}")
    if int(m["version"]) > IVF_INDEX_VERSION:
        raise ValueError(
            f"IVF index version {m['version']} newer than supported "
            f"{IVF_INDEX_VERSION}: {path}"
        )
    cells = sorted(
        spark.read.parquet(_os.path.join(path, "cells")).collect(),
        key=lambda r: r["cell"],
    )
    if len(cells) != int(m["n_cells"]):
        raise ValueError(
            f"IVF index corrupt: manifest says {m['n_cells']} cells, "
            f"found {len(cells)}: {path}"
        )
    centers = np.asarray([list(r["center"]) for r in cells], dtype=np.float64)
    radii = [
        (int(r["cell"]), float(r["radius"]))
        for r in cells
        if int(r["n_members"]) > 0
    ]
    md = m.asDict()
    out = {
        "centers": centers,
        "radii": radii,
        "corpus": spark.read.parquet(_os.path.join(path, "corpus")),
        "path": path,
        "n_rows": int(m["n_rows"]),
        "expected_scan_fraction": (
            float(md["expected_scan_fraction"])
            if md.get("expected_scan_fraction") is not None
            else None
        ),
    }
    if md.get("pq_shape"):
        mm, n_codes, d_sub = (int(x) for x in md["pq_shape"])
        cb = np.zeros((mm, n_codes, d_sub), dtype=np.float64)
        for r in spark.read.parquet(_os.path.join(path, "pq")).collect():
            cb[int(r["subspace"]), int(r["code"])] = list(r["center"])
        out["codebooks"] = cb
        out["rerank_depth"] = (
            int(md["rerank_depth"])
            if md.get("rerank_depth") is not None
            else None
        )
    return out


def similarity_topk_ivf_auto(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    floor_probe: int = 1,
    centroids=None,
    with_stats: bool = False,
    index: dict | None = None,
):
    """IVF with a DERIVED, query-adaptive probe set — and because the
    derivation is a sound geometric prune, the result is the EXACT
    cosine top-k at sublinear expected scan cost (VERDICT r13 item 3:
    nprobe was the last fixed ANN constant).

    Fixed-nprobe IVF has an unquantified failure mode: neighbors
    living in unprobed cells. This operator replaces the constant with
    the ball-tree bound, per query, in-plan:

    1. Normalize everything to the unit sphere (one Arrow stage) so L2
       and cosine agree: ||a-b||^2 = 2 - 2*cos. Assign each corpus
       vector to its nearest centroid and record each cell's RADIUS
       (max member distance to its centroid) — index-build artifacts,
       one aggregation over the assigned corpus.
    2. Phase 1: probe only the `floor_probe` nearest cells, exact-rank
       their members, and convert the k-th best cosine to distance:
       u = 2 - 2*cos_k (any k exact distances upper-bound the true
       k-th distance; +inf when the floor cells hold < k candidates).
    3. Phase 2: probe every cell that could still matter — by the
       triangle inequality a member x of cell j satisfies
       ||q-x|| >= ||q-c_j|| - r_j, so cells with
       sqrt(d2_j) - r_j > sqrt(u) provably contain no top-k member
       and are skipped. Scan the survivors, exact rerank.

    Coverage is UNCONDITIONAL (recall 1.0 vs brute force over the same
    corpus, by construction — the registry entry still audits it), so
    the recall knob disappears instead of being tuned. The probe count
    becomes a per-query derived quantity: tight clusters and an easy
    query -> few cells; a query equidistant from everything -> the
    prune admits every cell and the operator degrades to an exact full
    scan, which is the only sound answer on structureless data. The
    100 TB story: cells are the partition key, the probe set is a
    broadcast, and the expected scan is |corpus| * E[probed]/n_cells
    rows — with E[probed] now measured per query (``with_stats``)
    instead of pinned by a constant certified on one corpus.

    `centroids`, if given, must live in the NORMALIZED space (train
    with train_ivf_centroids on unit-normalized vectors); omitted,
    they are trained inline for ad-hoc use. The assigned corpus
    (id, cell, unit vector) is persisted — radii derivation, phase 1
    and phase 2 all read it; released on result GC.

    ``with_stats=True`` additionally returns a per-query telemetry
    frame (query_id, cells_probed, cells_total).

    ``index=`` (from build_ivf_index) is the PRODUCTION handoff: the
    C·n corpus→cell assignment — which dominates the inline wall at
    the derived cell count (IVF_CELLS_PROBE_320x) — is paid once at
    index build, and this call serves the query batch at marginal
    cost (probe decision + pruned scan). ``embeddings``/``centroids``
    are ignored when ``index`` is given; the caller owns the index's
    cached lifetime.

    A DISK-BACKED index (from load_ivf_index — has ``path`` and
    stored ``radii``) is served restart-safely: radii come from the
    index's cells table (no full-corpus aggregation), and both corpus
    reads become STATICALLY partition-pruned scans of the
    cell-partitioned parquet — the probe decisions (tiny, |Q| x
    n_cells bounded) are collected driver-side and pushed as
    partition filters, so a FileSourceScan touches only the probed
    cells' directories. Same answers as the in-memory handoff
    (ann_index_persist gate: exceptAll both ways).
    """
    import numpy as np

    from elb_log_to_mysql_spark.functions.vectorops import with_unit_norm

    disk_index = index is not None and "path" in index
    if index is not None:
        centers = np.asarray(index["centers"], dtype=np.float64)
        corpus = index["corpus"]
        owns_corpus = False
    else:
        normed = with_unit_norm(
            ensure_min_partitions(embeddings).select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("_v"),
            ),
            "_v",
            out="c_vec",
            drop=("_v",),
        )
        centers = (
            np.asarray(centroids, dtype=np.float64)
            if centroids is not None
            else train_ivf_centroids(normed, n_centroids, "c_vec")
        )
        corpus = _ivf_assign(normed, centers).persist()
        owns_corpus = True
    n_cells = len(centers)
    floor_probe = max(1, min(floor_probe, n_cells))
    if index is not None and index.get("radii") is not None:
        # disk-backed index: radii are index-build artifacts (cells/
        # table), so serving NEVER aggregates the full corpus — the
        # whole point of the durable layout is that no stage reads
        # more than the probed partitions
        radii = corpus.sparkSession.createDataFrame(
            index["radii"], "cell int, radius double"
        )
    else:
        radii = corpus.groupBy("cell").agg(F.max("_own_d").alias("radius"))

    qside = with_center_distances(
        with_unit_norm(
            queries.select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("_v")
            ),
            "_v",
            out="q_vec",
            drop=("_v",),
        ),
        "q_vec",
        centers,
    ).select(
        "query_id",
        "q_vec",
        "_dists",
        _probe_cells_expr(F.col("_dists"), n_cells, floor_probe).alias(
            "_floor_cells"
        ),
    )

    def cos_scored(cand: DataFrame) -> DataFrame:
        return with_pairwise_cosine(
            cand.filter(F.col("query_id") != F.col("neighbor_id")),
            "q_vec",
            "c_vec",
            drop=("q_vec", "c_vec"),
        )

    # Disk-backed serving: the probe decisions are collected (tiny —
    # bounded by |Q| x n_cells ids, the coordinator-side metadata any
    # ANN serving system holds) and pushed as STATIC partition
    # filters, so both corpus scans read only the probed cell
    # directories of the partitioned-parquet layout. qside is
    # persisted because the collect and the later phases share it.
    corpus_p1 = corpus
    if disk_index:
        qside = qside.persist()
        fc = sorted(
            r["cell"]
            for r in qside.select(F.explode("_floor_cells").alias("cell"))
            .distinct()
            .collect()
        )
        corpus_p1 = (
            corpus.filter(F.col("cell").isin(fc))
            if fc
            else corpus.filter(F.lit(False))
        )

    # Phase 1: floor-cell exact distances -> per-query bound u
    floor_probe_set = qside.select(
        "query_id", "q_vec", F.explode("_floor_cells").alias("cell")
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    phase1 = cos_scored(
        corpus_p1.select("neighbor_id", "c_vec", "cell").join(
            F.broadcast(floor_probe_set), "cell"
        )
    ).withColumn("_cr", F.row_number().over(w_cos))
    u_frame = phase1.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n1"),
        F.max(
            F.when(F.col("_cr") == k, F.lit(2.0) - F.lit(2.0) * F.col("cos"))
        ).alias("_uk"),
    ).select(
        "query_id",
        F.sqrt(
            F.greatest(
                F.when(F.col("_n1") >= k, F.col("_uk")).otherwise(
                    F.lit(float("inf"))
                ),
                F.lit(0.0),
            )
        ).alias("_u_dist"),
    )

    # Phase 2: triangle-prune the cell grid (|Q| x n_cells rows, tiny)
    grid = qside.select(
        "query_id",
        "_floor_cells",
        F.posexplode("_dists").alias("cell", "_d2"),
    )
    probe_set = (
        grid.join(F.broadcast(radii), "cell")
        .join(F.broadcast(u_frame), "query_id", "left")
        .filter(
            F.array_contains("_floor_cells", F.col("cell"))
            | (
                F.sqrt("_d2") - F.col("radius")
                <= F.coalesce("_u_dist", F.lit(float("inf")))
            )
        )
        .select("query_id", "cell")
    )
    corpus_p2 = corpus
    probed_cells = None
    if disk_index:
        # materializing the probe set executes phase 1 (over the
        # floor-pruned scan) and yields the phase-2 partition list;
        # the rebuilt local frame keeps phase 1 out of phase 2's plan
        spark = corpus.sparkSession
        probe_rows = probe_set.collect()
        probed_cells = sorted({r["cell"] for r in probe_rows})
        probe_set = spark.createDataFrame(probe_rows, probe_set.schema)
        corpus_p2 = (
            corpus.filter(F.col("cell").isin(probed_cells))
            if probed_cells
            else corpus.filter(F.lit(False))
        )
    cand = corpus_p2.select("neighbor_id", "c_vec", "cell").join(
        F.broadcast(
            probe_set.join(qside.select("query_id", "q_vec"), "query_id")
        ),
        "cell",
    )
    out = (
        cos_scored(cand)
        .withColumn("rank", F.row_number().over(w_cos))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos")
        )
    )
    if owns_corpus:
        # only release state this call created: a caller-owned prebuilt
        # index outlives every query batch served from it
        from elb_log_to_mysql_spark.session import unpersist_on_gc

        out = unpersist_on_gc(out, corpus)
    if disk_index:
        from elb_log_to_mysql_spark.session import unpersist_on_gc

        out = unpersist_on_gc(out, qside)
        # test-facing telemetry: the partition list the pruned scan is
        # limited to (tests/test_plans.py pins the FileSourceScan's
        # numPartitions metric to exactly this length)
        out._ivf_probed_cells = probed_cells
    if with_stats:
        stats_df = probe_set.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("cells_probed"),
            F.lit(n_cells).alias("cells_total"),
        )
        return out, stats_df
    return out


def choose_filter_strategy(
    embeddings: DataFrame,
    predicate: Column,
    threshold: float = 0.25,
    post_scan_fraction: float | None = None,
) -> tuple[str, float]:
    """Pre- vs post-filter decision for filtered ANN (VERDICT r13
    item 4), from ONE cheap count aggregation (the same eager
    plan-build contract as the PQ depth derivation):

    - selectivity s = passing/total <= threshold -> ``"pre"``: few
      survivors, so push the predicate into the scan and answer
      EXACTLY over the survivor set (a brute scan of s*N rows beats
      any index overhead, and recall is 1.0 by construction).
    - s > threshold -> ``"post"``: the survivor set is nearly the
      corpus, so keep the index-shaped scan over the FULL corpus
      (at scale: the stored LSH/IVF index is reused as-is), over-fetch
      k' ~ k/s candidates, and filter the ranked result — the classic
      vector-DB metadata-filter plan.

    The naive fixed choice fails at one end or the other: always-post
    under-fills k when the predicate is selective (k/s over-fetch
    explodes); always-pre rebuilds/rescans per predicate when the
    filter keeps 90% of the corpus.

    ``post_scan_fraction`` — the post plan's REAL modeled corpus-scan
    fraction (an IVF index's expected_scan_fraction, a derived LSH
    config's est_scan_fraction) — replaces the fixed threshold with
    the actual cost comparison (VERDICT r14 item 4): the pre branch
    scans s*N survivor rows per query batch, the indexed post branch
    ~fraction*N, so pre wins exactly when s <= fraction. The fixed
    default exists only for callers with no index geometry in hand.
    """
    row = embeddings.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(predicate.cast("long")).alias("p"),
    ).first()
    n = int(row["n"] or 0)
    s = (int(row["p"] or 0) / n) if n else 0.0
    thr = post_scan_fraction if post_scan_fraction is not None else threshold
    return ("pre" if s <= thr else "post"), s


def similarity_topk_filtered(
    embeddings: DataFrame,
    queries: DataFrame,
    predicate: Column,
    k: int = 10,
    method: str = "auto",
    selectivity_threshold: float = 0.25,
    over_fetch: int = 4,
    selectivity: float | None = None,
    n_planes: int | None = None,
    n_tables: int | None = None,
    index: dict | None = None,
    lsh_params: dict | None = None,
) -> DataFrame:
    """Top-k cosine under a metadata predicate — the production RAG
    shape (retrieve nearest neighbors among documents matching a
    source/quality/language filter).

    ``method="auto"`` runs choose_filter_strategy (one eager count
    agg); pass ``"pre"``/``"post"`` to pin the plan — with an
    optional precomputed ``selectivity`` so a pinned post branch still
    scales its over-fetch (callers that already ran the chooser pass
    both and pay the count agg once).

    - pre: predicate pushed into the corpus scan (Catalyst pushes a
      column predicate down to parquet), exact brute-force top-k over
      the survivors. Right when selective: recall 1.0, cost
      |Q| * s*N.
    - post: an index-shaped scan over the FULL corpus (the stored
      index doesn't depend on the predicate) with
      k' = clamp(ceil(over_fetch*k/s), k, 64k) per query, then the
      ranked candidates semi-join the predicate survivors and the
      filtered ranking is cut to k. Under-fill risk (the reason naive
      post-filtering fails) is controlled by the s-scaled over-fetch;
      the registry entries audit the recall floor at both regimes.

    The post branch's engine composes with the rest of the ANN family
    (VERDICT r14 item 4 — no hand-picked constants left here):

    - ``index=`` (build_ivf_index / load_ivf_index): serve through
      similarity_topk_ivf_auto's sound prune — EXACT top-k' over the
      full corpus, partition-pruned when the index is disk-backed.
      The metadata filter thereby composes with the cell-partitioned
      production index.
    - otherwise the DERIVED LSH config (``lsh_params`` from
      derive_lsh_params, or derived here when omitted) via
      similarity_topk_lsh_auto — refusal-safe: on geometry where LSH
      cannot beat an exact scan it serves the exact scan.
    - explicit ``n_planes``/``n_tables`` pin the legacy fixed config
      (kept for comparison probes; the derived path priced the old
      (3, 24) default cost-unsound — scan fraction 3.0 — at 320x).

    In auto mode the chooser uses the post plan's REAL modeled scan
    fraction when one is in hand (the index's
    expected_scan_fraction, the derived config's est_scan_fraction)
    instead of the fixed 0.25: pre wins exactly when the survivor
    scan (s*N) is cheaper than the indexed scan (fraction*N). When
    the broad regime's derivation REFUSES (neighbors
    indistinguishable from noise), the sound answer is an exact scan
    — and the exact scan over s*N survivors is strictly cheaper than
    over the corpus, so the chooser falls back to pre.

    Both branches return (query_id, neighbor_id, rank, cos) with rank
    recomputed under the predicate, so the output contract is
    branch-independent.
    """
    fixed_config = n_planes is not None or n_tables is not None

    def _params_frac(p: dict) -> float:
        # a refused derivation prices the post engine at an exact full
        # scan: fraction 1.0 (so pre always wins the comparison)
        return (
            p["est_scan_fraction"] if p.get("method") == "lsh" else 1.0
        )

    s = selectivity
    if method == "auto":
        known_frac = None
        if index is not None:
            known_frac = index.get("expected_scan_fraction")
        elif lsh_params is not None:
            known_frac = _params_frac(lsh_params)
        method, s = choose_filter_strategy(
            embeddings,
            predicate,
            selectivity_threshold,
            post_scan_fraction=known_frac,
        )
        if (
            method == "post"
            and known_frac is None
            and not fixed_config
            and index is None
        ):
            # broad regime with no geometry in hand: derive it (one
            # tiny eager job) and re-decide on the REAL cost
            lsh_params = derive_lsh_params(embeddings, queries, k=k)
            if _params_frac(lsh_params) >= s:
                method = "pre"
    if method == "pre":
        return similarity_topk_bruteforce(embeddings.filter(predicate), queries, k=k)
    if method != "post":
        raise ValueError(f"method must be auto|pre|post, got {method!r}")
    import math

    k_over = (
        max(k, min(64 * k, math.ceil(over_fetch * k / s)))
        if s
        else over_fetch * k
    )
    if index is not None:
        ranked = similarity_topk_ivf_auto(embeddings, queries, k=k_over, index=index)
    elif fixed_config:
        ranked = similarity_topk_lsh(
            embeddings, queries, k=k_over,
            n_planes=n_planes if n_planes is not None else 3,
            n_tables=n_tables if n_tables is not None else 24,
        )
    else:
        ranked = similarity_topk_lsh_auto(
            embeddings, queries, k=k_over, params=lsh_params
        )
    survivors = embeddings.filter(predicate).select(
        F.col("vec_id").alias("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        ranked.join(survivors, "neighbor_id", "left_semi")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _nearest_cell_expr(dists: str = "_dists") -> Column:
    """Index of the minimum distance (ties -> lowest index), as int —
    the IVF cell assignment, computed JVM-side over the Arrow stage's
    distance column."""
    return (
        F.array_position(F.col(dists), F.array_min(dists)) - 1
    ).cast("int")


def _probe_cells_expr(dists: Column, n_centers: int, nprobe: int) -> Column:
    """The nprobe nearest cell ids, ascending by distance (ties ->
    lower cell id via the struct sort), as array<int> — JVM-side over
    the Arrow stage's distance column."""
    return F.slice(
        F.transform(
            F.array_sort(
                F.zip_with(
                    dists,
                    F.sequence(F.lit(0), F.lit(n_centers - 1)),
                    lambda d, i: F.struct(d.alias("d"), i.alias("i")),
                )
            ),
            lambda s: s.getField("i"),
        ),
        1,
        nprobe,
    )


def embedding_stats(embeddings: DataFrame) -> DataFrame:
    """Per-label vector statistics (norm distribution) — the sanity
    profile run before any similarity job.

    Per-row norms accumulate left-to-right in double (deterministic
    per row); the cross-row mean goes through the exact-decimal
    contract so it is partition-order independent and oracle-exact —
    a bare F.avg over doubles would drift with the combine order."""
    from elb_log_to_mysql_spark.functions.numeric import davg

    norms = embeddings.select(
        "label", _norm(F.col("embedding")).alias("norm")
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
        F.round(davg("norm"), 6).alias("avg_norm"),
    )


def embedding_quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the
    4×-storage-reduction pass an embedding store runs before serving
    ANN at corpus scale. Per vector: scale = 127/max|x| (one IEEE
    division), q_i = floor(x_i·scale + 0.5) — floor(+0.5) instead of
    round() because round() half-way semantics differ across engines
    (Spark HALF_UP on decimals, banker's elsewhere) while floor is
    exact in both; the multiply and add are correctly-rounded IEEE
    doubles, so q is bit-reproducible.

    Emits per vector the quantization summary (sum/min/max and the
    saturation count |q| = 127) rather than the raw int8 array —
    integer aggregates that pin the arithmetic end to end. Pure
    column expressions over one scan: zero shuffles, scan-bound.

    NULL vectors are excluded EXPLICITLY (same portable-NULL contract
    as kmeans_embeddings): Spark's legacy sizeOfNull would turn the
    n_sat aggregate into -1 on a NULL array while a SQL replay yields
    NULL — filtering in both engines is the only portable rule.
    """
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    q = F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5)).cast("int"))
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    return ensure_min_partitions(embeddings).select(
        "vec_id",
        scale.alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        F.size(F.filter(q, lambda x: F.abs(x) == 127)).alias("n_sat"),
    )


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 16,
    n_codes: int = 256,
    iterations: int = 10,
    max_train_rows: int = 100_000,
    sample_fraction: float | None = None,
):
    """Offline product-quantization codebook training — run ONCE per
    corpus, persist the (m, n_codes, dim/m) array, reuse across
    queries (same contract as `train_ivf_centroids`).

    Deterministic Lloyd's on a capped, id-ordered sample: init is the
    first `n_codes` sampled vectors' subvectors, `iterations` fixed
    rounds, empty cells keep their centroid, argmin ties break to the
    lowest index. All m subspaces train in one vectorized pass over a
    driver-side sample matrix (<= max_train_rows x dim doubles — an
    offline index-build artifact, not a query-path collect). Vectors
    are unit-normalized first so PQ squared-L2 order matches cosine
    order (||a-b||^2 = 2 - 2cos for unit vectors).
    """
    import numpy as np

    from elb_log_to_mysql_spark.functions.vectorops import _sub_argmin

    sampled = (
        embeddings.sample(fraction=sample_fraction, seed=42)
        if sample_fraction is not None
        else embeddings
    )
    pdf = (
        sampled.select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .limit(max_train_rows)
        .select("embedding")
        .toPandas()
    )
    import numpy as _np

    x = _np.vstack(pdf["embedding"].to_numpy()).astype(_np.float64)
    norms = _np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = x / norms
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    subs = x.reshape(n, m, d_sub)
    cb = subs[: min(n_codes, n)].transpose(1, 0, 2).copy()  # (m, <=k, d_sub)
    for _ in range(iterations):
        assign = _sub_argmin(subs, cb)                       # (n, m)
        for j in range(m):
            counts = _np.bincount(assign[:, j], minlength=cb.shape[1])
            sums = _np.zeros_like(cb[j])
            _np.add.at(sums, assign[:, j], subs[:, j])
            nz = counts > 0
            cb[j][nz] = sums[nz] / counts[nz][:, None]
    return cb


def derive_pq_rerank_factor(
    codes: DataFrame, k: int, floor: int = 4, cap: int = 256
) -> int:
    """Size the exact-rerank depth from the corpus's PQ-code tie
    structure (the 320x-probe law, SCALE.md round-12): two corpus
    vectors with the SAME code sequence get identical ADC scores, so
    within a tie cluster the shortlist cut is by neighbor_id — if the
    cluster is wider than k*rerank_factor, members of the id-tiebroken
    true top-k fall outside the shortlist and recall collapses
    (measured 0.65 at depth 4 under 320-wide near-dup clusters;
    1.0/0.995 at depth 64, ANN_SCALE_PROBE_320x*.json). The largest
    code multiplicity is therefore the worst-case tie width the
    rerank must see past:

        rerank_factor = clamp(ceil((max_multiplicity + k) / k),
                              floor, cap)

    Guarantee scope: the derived depth covers a tie cluster only when
    that cluster sits at (or within k of) the TOP of the ADC order —
    the near-dup case the 320x probe measured, where the duplicated
    vectors ARE the nearest neighbors. A true-top-k cluster preceded
    by more than k·(rerank_factor-1) lower-ADC candidates is outside
    this guarantee (such a corpus has a tie cluster that is dense but
    NOT nearest — rerank depth cannot be sized from multiplicity
    alone there).

    Cost: one scalar aggregation over the (id, codes) frame — the
    same frame the ADC scan reads, so on a stored index this is a
    metadata-cheap groupBy. NOTE this makes the calling operator
    EAGER at plan-build time (one Spark job), the same contract as
    simhash's density-derived cap. `cap` bounds the shortlist a
    pathological million-clone corpus could demand — past it, dedup
    the corpus first (the engine ships near_dedup/exact_dedup for
    exactly this); when the clamp actually binds, a RuntimeWarning
    makes the silent-degradation risk observable instead of implied.
    """
    import math
    import warnings

    row = (
        codes.groupBy("codes")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()
    )
    max_mult = int(row[0] or 1)
    want = math.ceil((max_mult + k) / k)
    if want > cap:
        warnings.warn(
            f"derive_pq_rerank_factor: required depth {want} (max code "
            f"multiplicity {max_mult}, k={k}) exceeds cap={cap}; the "
            f"clamped shortlist may miss tie-cluster members — dedup "
            f"the corpus (near_dedup/exact_dedup) before indexing",
            RuntimeWarning,
            stacklevel=2,
        )
    return max(floor, min(cap, want))


def derive_pq_search_params(
    indexed: DataFrame, k: int, floor: int = 4, cap: int = 256
) -> tuple[int, float]:
    """Index-health statistics for a stored (codes, pq_err) PQ index:

    - ``rerank_factor`` — the exact-tie depth (derive_pq_rerank_factor:
      max code multiplicity covers clusters whose members share the
      SAME code sequence); still a live SEARCH control (the always-keep
      floor of the shortlist).
    - ``qerr_band`` — the p99 per-vector PQ reconstruction error.
      ROUND-14 NOTE: this is now a REPORTING statistic (probe JSONs,
      index audits), no longer a search control. The round-13 design
      cut the shortlist at adc <= (sqrt(kth_adc) + 2·sqrt(p99))^2 — a
      global band covering noisy near-duplicates up to the p99
      residual tail (the blind spot the 320x probe measured: noisy
      copies quantize to different codes, multiplicity-derived depth
      floors, recall 0.65). The operators now cut per CANDIDATE by
      its own residual — lb_c <= kth-smallest ub, see
      _shortlist_rerank — which is unconditionally sound (no
      p99 tail caveat), tighter almost everywhere, and needs no
      per-corpus aggregation at plan build. The p99 remains the right
      summary of how coarse the codebooks are for this corpus, so
      probes keep ledgering it.

    The depth leg IS derive_pq_rerank_factor (one implementation, one
    clamp, one cap-exceeded warning — they cannot drift); the band adds
    one percentile aggregation job (per-ROW percentile — folding into
    the multiplicity pass would weight it by distinct code, not by
    vector).
    """
    depth = derive_pq_rerank_factor(indexed, k, floor=floor, cap=cap)
    band_row = indexed.agg(
        F.expr("percentile_approx(pq_err, 0.99)")
    ).first()
    qerr_band = float(band_row[0] or 0.0)
    return depth, qerr_band


def _shortlist_rerank(
    scored: DataFrame,
    embeddings: DataFrame,
    qside: DataFrame,
    k: int,
    rerank_factor: int,
    adaptive: bool,
    cap: int = 256,
    with_stats: bool = False,
):
    """Shared PQ/IVFPQ tail: cut the ADC candidate set to the rerank
    shortlist, fetch raw vectors for it, exact-cosine rerank to top-k.

    Always keeps the top k·rerank_factor by (adc, neighbor_id). With
    ``adaptive`` (requires a per-candidate ``pq_err`` column — the
    derived default path carries it through the scan) the shortlist
    additionally admits by a TWO-PHASE per-candidate bound cut. All
    vectors are unit-normalized at encode time, so ADC is the squared
    L2 distance to the reconstructed corpus vector and the triangle
    inequality on the reconstruction residual gives per-candidate
    bounds on the true squared distance:

        ub_c = (sqrt(adc_c) + sqrt(e_c))^2      (e_c = pq_err of c)
        lb_c = max(0, sqrt(adc_c) - sqrt(e_c))^2

    Phase 1 exact-reranks just the depth floor (k·rerank_factor rows
    per query — one tiny fetch) and converts the k-th best exact
    cosine to distance space: u_exact = 2 - 2·cos_k. Any k candidates'
    exact distances upper-bound the true k-th distance, so
    u = least(u_exact, k-th smallest ub over the pool) is a sound
    per-query admission bound. Phase 2 admits every pool candidate
    with lb_c <= u.

    Soundness: any true top-k member c has true_c <= true_kth <= u,
    and lb_c <= true_c, so c is admitted — UNCONDITIONAL coverage of
    the true top-k within the pool (the top k·cap by ADC rank — the
    safety valve against pathological corpora; the admission telemetry
    observes when it binds). The round-13 design cut at a global-p99
    error band (coverage only up to the p99 tail) — telemetry showed
    it degenerating to the cap on noisy-dense corpora because a pure
    ADC±error bound is vacuous when quantization error is comparable
    to intra-cluster distances; the exact phase-1 bound stays tight
    there (it prunes everything farther than the k-th measured
    neighbor, regardless of how coarse the codebooks are).

    The candidate pool (<= k·cap rows/query: id, rank, lb, ub) is
    persisted so the expensive ADC scan runs ONCE even though phase 1
    and phase 2 both read it; the cache is released when the returned
    result is garbage-collected (unpersist_on_gc). Scales by query
    count, not corpus size.

    ``with_stats=True`` returns ``(result, stats_df)`` with one row
    per query: (query_id, admitted, cut_admitted, cap_dropped) —
    cut_admitted = admitted beyond the depth floor, cap_dropped =
    bound-eligible candidates the k·cap valve rejected (>0 means
    recall may be at risk: dedup the corpus or raise cap). Collecting
    stats re-executes the ADC scan (audit-time cost only).
    """
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    ranked = scored.withColumn("adc_rank", F.row_number().over(w_adc))
    keep_depth = F.col("adc_rank") <= k * rerank_factor

    def fetch_cos(cand: DataFrame) -> DataFrame:
        fetched = embeddings.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ).join(F.broadcast(cand), "neighbor_id")
        return with_pairwise_cosine(
            fetched.join(
                F.broadcast(qside.select("query_id", "q_vec")), "query_id"
            ),
            "q_vec",
            "c_vec",
            drop=("q_vec", "c_vec"),
        )

    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )

    def topk(cand: DataFrame) -> DataFrame:
        return (
            fetch_cos(cand)
            .withColumn("rank", F.row_number().over(w_cos))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", "neighbor_id", "rank",
                F.round("cos", 6).alias("cos"),
            )
        )

    stats_df = None
    if not adaptive:
        shortlist = ranked.filter(keep_depth).select(
            "query_id", "neighbor_id"
        )
        if with_stats:
            stats_df = ranked.groupBy("query_id").agg(
                F.sum(keep_depth.cast("long")).alias("admitted"),
                F.lit(0).cast("long").alias("cut_admitted"),
                F.lit(0).cast("long").alias("cap_dropped"),
            )
        out = topk(shortlist)
        return (out, stats_df) if with_stats else out

    sq_e = F.sqrt(F.greatest(F.col("pq_err"), F.lit(0.0)))
    sq_a = F.sqrt(F.greatest(F.col("adc"), F.lit(0.0)))
    with_bounds = ranked.withColumn(
        "_ub", F.pow(sq_a + sq_e, F.lit(2.0))
    ).withColumn(
        "_lb", F.pow(F.greatest(sq_a - sq_e, F.lit(0.0)), F.lit(2.0))
    )
    pool = (
        with_bounds.filter(F.col("adc_rank") <= k * cap)
        .select("query_id", "neighbor_id", "adc_rank", "_ub", "_lb")
        .persist()
    )

    # Phase 1: exact cosines for the depth floor -> per-query bound.
    # u_exact needs >= k exact rows to be a valid k-th-distance bound;
    # smaller queries fall through to the pool-ub term (which keeps
    # everything when the pool itself has < k rows — correct: with
    # fewer candidates than k there is nothing to prune).
    phase1 = fetch_cos(
        pool.filter(keep_depth).select("query_id", "neighbor_id")
    ).withColumn("_cr", F.row_number().over(w_cos))
    u_exact = phase1.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n1"),
        F.max(
            F.when(F.col("_cr") == k, F.lit(2.0) - F.lit(2.0) * F.col("cos"))
        ).alias("_ue"),
    ).select(
        "query_id",
        F.when(F.col("_n1") >= k, F.col("_ue"))
        .otherwise(F.lit(float("inf")))
        .alias("_u_exact"),
    )
    w_ub = Window.partitionBy("query_id").orderBy(
        F.col("_ub").asc(), F.col("neighbor_id")
    )
    kth_ub = (
        pool.withColumn("_ub_rank", F.row_number().over(w_ub))
        .groupBy("query_id")
        .agg(
            F.max(
                F.when(F.col("_ub_rank") <= k, F.col("_ub"))
            ).alias("_kth_ub")
        )
    )
    bounds = u_exact.join(kth_ub, "query_id").select(
        "query_id", F.least("_u_exact", "_kth_ub").alias("_u")
    )
    admit = keep_depth | (F.col("_lb") <= F.col("_u"))
    shortlist = (
        pool.join(F.broadcast(bounds), "query_id")
        .filter(admit)
        .select("query_id", "neighbor_id")
    )
    out = topk(shortlist)
    if with_stats:
        # audit-time: re-scans so the cap-dropped tail (outside the
        # pool) is countable
        stats_df = (
            with_bounds.join(F.broadcast(bounds), "query_id")
            .groupBy("query_id")
            .agg(
                F.sum(
                    (admit & (F.col("adc_rank") <= k * cap)).cast("long")
                ).alias("admitted"),
                F.sum(
                    (
                        admit
                        & ~keep_depth
                        & (F.col("adc_rank") <= k * cap)
                    ).cast("long")
                ).alias("cut_admitted"),
                F.sum(
                    (
                        (F.col("_lb") <= F.col("_u"))
                        & ~keep_depth
                        & (F.col("adc_rank") > k * cap)
                    ).cast("long")
                ).alias("cap_dropped"),
            )
        )
    from elb_log_to_mysql_spark.session import unpersist_on_gc

    out = unpersist_on_gc(out, pool)
    return (out, stats_df) if with_stats else out


def similarity_topk_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank_factor: int | None = None,
    codebooks=None,
    m: int = 16,
    n_codes: int = 256,
    with_stats: bool = False,
    adaptive: bool | None = None,
):
    """Approximate cosine top-k via product quantization with
    asymmetric-distance (ADC) scan + exact rerank.

    The 100 TB memory path: the scanned representation is m small
    codes per vector (m=16, k=256 -> 16 bytes vs 256 bytes of float32
    for dim=64 — 16x; m=8 halves it again), and the per-candidate
    distance is m array lookups against a per-query LUT instead of a
    dim-length dot product.

    1. Encode the corpus once with precomputed `codebooks`
       (`train_pq_codebooks`, offline; inline training is an ad-hoc
       convenience only) — at scale the code column is written next
       to the id and the raw vectors stay in cold storage.
    2. Per query, build the (m x n_codes) LUT of subvector-to-
       sub-centroid distances, broadcast the query block, and rank
       candidates by ADC = sum_m lut[m][code_m] — a JVM-side fold over
       m elements; the raw vector column is NOT read in this stage.
    3. Fetch raw vectors for only the top k*rerank_factor ADC
       candidates per query (broadcast semi of the candidate ids
       against the corpus) and rerank by exact cosine.

    `rerank_factor` defaults to None = DERIVED search controls (the
    320x-probe law productized): the exact-tie depth from max code
    multiplicity (derive_pq_rerank_factor) PLUS the per-candidate
    adaptive ADC cut — each scanned code carries its own PQ
    reconstruction error ``pq_err`` (same encode pass), and the
    shortlist keeps every candidate whose distance lower bound is at
    or under the per-query k-th smallest upper bound
    (_shortlist_rerank's two-phase cut). The cut covers NOISY near-duplicates
    whose codes differ but whose ADC scores near-tie (measured at
    320x: multiplicity alone left recall at 0.65, the round-13 global
    band restored 1.0; the round-14 per-candidate cut keeps the same
    guarantee UNCONDITIONALLY and admits a narrower tail). A deduped
    corpus derives back to the floor depth with a near-empty cut. The
    derivation makes plan construction EAGER (one agg job over the
    index frame). Pass an explicit int to keep plan construction lazy
    and pin a fixed depth (no cut). The PRODUCTION SERVING shape is an
    explicit int (the depth derived once at index build, stored with
    the index) plus ``adaptive=True``: the sound per-query cut stays
    on while plan construction stays lazy — zero eager jobs per query
    batch. ``adaptive`` defaults to following the derived/explicit
    choice; ``adaptive=False`` with rerank_factor=None derives the
    depth but skips the cut (not recommended: the 320x noisy regime
    silently loses recall without it). Scan-width cost of the cut: the
    code row carries one extra double (pq_err) — at extreme scale
    store it as a round-UP float32 next to the 16-byte codes (the
    bound stays sound under upward rounding).

    ``with_stats=True`` returns ``(result, stats_df)`` where stats_df
    is the per-query admission telemetry (admitted, cut_admitted,
    cap_dropped — see _shortlist_rerank); collecting it
    re-executes the ADC scan (cheap: the encoded index is persisted
    on the derived path).

    Composes with IVF (`similarity_topk_ivf`) for sublinear scan at
    extreme scale: restrict step 2 to probed cells. Ranking ties break
    by neighbor_id in both stages, so results are partitioning-
    invariant; recall is audited against the brute-force exact top-k
    in the registry entry.
    """
    import numpy as np

    from elb_log_to_mysql_spark.functions.vectorops import (
        with_pq_index_cols,
        with_pq_lut,
    )

    cb = (
        np.asarray(codebooks, dtype=np.float64)
        if codebooks is not None
        else train_pq_codebooks(embeddings, m=m, n_codes=n_codes)
    )

    derived = rerank_factor is None
    use_cut = adaptive if adaptive is not None else derived
    # encode as a mapInPandas stage; the raw vector dies inside it.
    # The cut path also emits the per-vector PQ reconstruction error
    # (same pass) — the per-candidate bound the adaptive cut needs.
    codes = with_pq_index_cols(
        ensure_min_partitions(embeddings).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_v")
        ),
        "_v",
        cb,
        qerr=use_cut,
        drop=("_v",),
    )
    derived_cache = None
    if derived:
        # near-dup-aware depth (eager: one agg over the index frame);
        # persist — derivation and scan both read it. pq_err stays in
        # the scanned row: the per-candidate cut reads it.
        codes = derived_cache = codes.persist()
        rerank_factor = derive_pq_rerank_factor(codes, k)
        codes = codes.select(
            "neighbor_id", "codes", *(["pq_err"] if use_cut else [])
        )
    qside = with_pq_lut(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        ),
        "q_vec",
        cb,
    )
    scored = (
        codes.crossJoin(F.broadcast(qside.select("query_id", "lut")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "adc",
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.col("lut"),
                    lambda c, l: F.element_at(l, c + F.lit(1)),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
        )
    )
    res = _shortlist_rerank(
        scored, embeddings, qside, k, rerank_factor,
        adaptive=use_cut, with_stats=with_stats,
    )
    out, adm_stats = res if with_stats else (res, None)
    if derived_cache is not None:
        from elb_log_to_mysql_spark.session import unpersist_on_gc

        out = unpersist_on_gc(out, derived_cache)
    return (out, adm_stats) if with_stats else out


def similarity_topk_ivfpq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 8,
    rerank_factor: int | None = None,
    centroids=None,
    codebooks=None,
    m: int = 16,
    n_codes: int = 256,
    with_stats: bool = False,
    adaptive: bool | None = None,
):
    """IVF + PQ composed — the full 100 TB ANN serving shape (the
    FAISS IVFADC layout re-expressed as a DataFrame plan).

    Index (both artifacts offline, reused across queries): the IVF
    coarse quantizer (`train_ivf_centroids`) partitions the corpus
    into cells; PQ codebooks (`train_pq_codebooks`) compress every
    vector to m codes. The stored row is (id, cell, codes) — 16 bytes
    of payload per vector.

    Search: probe the nprobe nearest cells per query (same plan shape
    as `similarity_topk_ivf` — centroid distances are one Arrow-batch
    matmul, the probe set broadcasts, candidates arrive via an
    equi-join on cell id, so the corpus never cross-joins the query
    block); rank the in-cell candidates by ADC against the per-query
    LUT — m array lookups, no raw-vector reads; fetch raw vectors for
    only the top k*rerank_factor per query and rerank by exact
    cosine. Expected scan volume: |corpus|·nprobe/n_centroids rows of
    m-byte codes — sublinear AND compressed, vs sublinear full-width
    for IVF alone and linear compressed for PQ alone.

    Ties break by neighbor_id at both ranking stages
    (partitioning-invariant); recall is audited against the
    brute-force exact top-k in the registry entry.

    `rerank_factor=None` (the default) derives the shortlist controls
    from the stored index — exact-tie depth from code multiplicity
    (derive_pq_rerank_factor — eager, one agg job) + the
    per-candidate adaptive ADC cut, each scanned code carrying its
    own reconstruction error (_shortlist_rerank; see
    similarity_topk_pq for the 320x evidence and the scan-width
    note); pass an explicit int to keep plan construction lazy and
    pin a fixed depth (no cut), or an explicit int PLUS
    ``adaptive=True`` for the production serving shape — precomputed
    depth, sound per-query cut, zero eager jobs (see
    similarity_topk_pq). ``with_stats=True`` returns
    ``(result, stats_df)`` with the per-query admission telemetry.
    """
    import numpy as np

    from elb_log_to_mysql_spark.functions.vectorops import (
        center_dists_fn,
        pq_lut_fn,
        with_pq_index_cols,
    )

    centers = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else train_ivf_centroids(embeddings, n_centroids)
    )
    cb = (
        np.asarray(codebooks, dtype=np.float64)
        if codebooks is not None
        else train_pq_codebooks(embeddings, m=m, n_codes=n_codes)
    )
    dists_k = center_dists_fn(centers)

    derived = rerank_factor is None
    use_cut = adaptive if adaptive is not None else derived
    # PQ encode + coarse distances (+ the reconstruction error on the
    # cut path) share ONE mapInPandas stage (one Python round trip
    # per corpus batch); the raw vector dies inside it and cell
    # selection stays JVM-side over the distance column.
    base_cols = ["neighbor_id", "codes"] + (["pq_err"] if use_cut else [])
    indexed = with_pq_index_cols(
        ensure_min_partitions(embeddings).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_v")
        ),
        "_v",
        cb,
        centers=centers,
        qerr=use_cut,
        drop=("_v",),
    ).select(*base_cols, _nearest_cell_expr().alias("cell"))
    derived_cache = None
    if derived:
        # near-dup-aware depth from the stored index
        # (derive_pq_rerank_factor; eager, one agg); persist — the
        # derivation and the probed ADC scan both read the index.
        # pq_err stays in the scanned row for the per-candidate cut.
        indexed = derived_cache = indexed.persist()
        rerank_factor = derive_pq_rerank_factor(indexed, k)
        indexed = indexed.select(*base_cols, "cell")
    lut_k = pq_lut_fn(cb)
    qside = arrow_stage(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        ),
        [
            ("lut", "array<array<double>>", lambda pdf: lut_k(pdf["q_vec"])),
            ("_dists", "array<double>", lambda pdf: dists_k(pdf["q_vec"])),
        ],
    ).select(
        "query_id",
        "q_vec",
        "lut",
        _probe_cells_expr(F.col("_dists"), len(centers), nprobe).alias(
            "probe_cells"
        ),
    )
    probed = qside.select(
        "query_id", "lut", F.explode("probe_cells").alias("cell")
    )
    scored = (
        indexed.join(F.broadcast(probed), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "adc",
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.col("lut"),
                    lambda c, l: F.element_at(l, c + F.lit(1)),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
        )
    )
    res = _shortlist_rerank(
        scored, embeddings, qside, k, rerank_factor,
        adaptive=use_cut, with_stats=with_stats,
    )
    out, adm_stats = res if with_stats else (res, None)
    if derived_cache is not None:
        from elb_log_to_mysql_spark.session import unpersist_on_gc

        out = unpersist_on_gc(out, derived_cache)
    return (out, adm_stats) if with_stats else out


def ann_index_assign(
    embeddings: DataFrame,
    centroids,
    codebooks,
) -> DataFrame:
    """Materialize the stored IVF-PQ index rows for a vector frame:
    (id, cell, codes, qerr) — the coarse cell (argmin squared-L2 to
    the frozen `centroids`), the m PQ codes against the frozen
    `codebooks`, and the coarse quantization error (squared L2 to the
    assigned centroid), which is the per-row term of the drift
    statistic. One pass, no shuffle: centroid distances are one
    Arrow-batch matmul, codes one batched sub-argmin — assignment is
    a pure per-row function of (vector, frozen artifacts), which is
    exactly what makes incremental index maintenance sound (see
    incremental_ann_index)."""
    import numpy as np

    from elb_log_to_mysql_spark.functions.vectorops import (
        center_dists_fn,
        pq_codes_fn,
    )

    centers = np.asarray(centroids, dtype=np.float64)
    cb = np.asarray(codebooks, dtype=np.float64)
    codes_k, dists_k = pq_codes_fn(cb), center_dists_fn(centers)
    return arrow_stage(
        ensure_min_partitions(embeddings).select(
            "vec_id", F.col("embedding").alias("_v")
        ),
        [
            ("_dists", "array<double>", lambda pdf: dists_k(pdf["_v"])),
            ("codes", "array<int>", lambda pdf: codes_k(pdf["_v"])),
        ],
        drop=("_v",),
    ).select(
        "vec_id",
        _nearest_cell_expr().alias("cell"),
        "codes",
        F.array_min("_dists").alias("qerr"),
    )


def ann_index_drift(
    base_index: DataFrame,
    batch_index: DataFrame,
    drift_factor: float = 2.0,
) -> DataFrame:
    """Codebook-drift check for the incremental-index cadence: one
    row (base_err, batch_err, drift_tripped). The statistic is the
    mean coarse quantization error — if the new batch's vectors sit
    `drift_factor`x further from the frozen centroids than the
    corpus the quantizer was trained on, the batch's distribution
    has moved and the offline artifacts should be re-derived
    (train_ivf_centroids / train_pq_codebooks on the updated corpus);
    below the trip line, appending the batch's assigned rows IS the
    index update (cost scales with the batch, not the corpus)."""
    b = base_index.agg(F.avg("qerr").alias("base_err"))
    n = batch_index.agg(F.avg("qerr").alias("batch_err"))
    return (
        b.crossJoin(n)
        .select(
            "base_err",
            "batch_err",
            (
                F.col("batch_err")
                > F.lit(float(drift_factor)) * F.col("base_err")
            ).alias("drift_tripped"),
        )
    )


def incremental_ann_index(
    base_index: DataFrame,
    batch: DataFrame,
    centroids,
    codebooks,
) -> DataFrame:
    """Accept a NEW embeddings batch against an existing IVF-PQ
    index: assign the batch's vectors to the existing cells/codes
    (one pass over the batch — never a corpus rescan) and append to
    the stored index rows. `is_new` marks the batch rows.

    Equivalence contract (proved by the registry entry's oracle the
    same way incremental_corpus_pipeline's is): assignment is a pure
    per-row function of (vector, frozen artifacts), so
    base_index UNION assign(batch) row-for-row equals a full
    reassignment pass over the union with the same artifacts — the
    incremental update loses nothing while doing O(|batch|) work.
    The re-derive decision (when the batch's distribution has moved
    and the frozen artifacts no longer fit) is ann_index_drift's
    one-row verdict; re-training itself stays an offline index build
    (train_ivf_centroids / train_pq_codebooks), never part of this
    update path."""
    new_rows = ann_index_assign(batch, centroids, codebooks)
    return base_index.select(
        "vec_id", "cell", "codes", "qerr", F.lit(False).alias("is_new")
    ).unionByName(
        new_rows.select(
            "vec_id", "cell", "codes", "qerr", F.lit(True).alias("is_new")
        )
    )
