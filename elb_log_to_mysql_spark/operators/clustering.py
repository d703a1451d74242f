"""Deterministic distributed k-means (Lloyd's) over embedding columns.

The reference engine has no clustering surface; this is part of the
LLM-corpus extension family (SURVEY §2.3): clustering embeddings is
the backbone of semantic sharding, topic balancing, and
cluster-based dedup sampling at corpus scale.

Two design constraints drive the implementation:

1. **Never cap the data.** `train_ivf_centroids` (similarity.py:291)
   deliberately fits MLlib k-means on a bounded sample — right for an
   offline quantizer, wrong when the assignment of EVERY row is the
   product (semantic sharding). Here every stage is a full-table
   DataFrame op: explode → agg → broadcast join; nothing is
   collected, nothing is sampled, state per iteration is k×dim rows.

2. **Bit-reproducible across engines and layouts.** Float summation
   is order-dependent, so naive distributed centroid means are not
   reproducible run-to-run, let alone against a single-node oracle.
   Centroid updates therefore sum an exact DECIMAL(28,8) image of
   each coordinate (associative + commutative — partitioning and AQE
   cannot change the result; see functions/numeric.py for the
   engine-wide contract) and convert to double ONCE, via the
   decimal→string→double detour that sidesteps DuckDB's
   double-rounding on int128-backed decimals. Distances are
   left-to-right IEEE folds over the 64 dims — the same op sequence
   a DuckDB `list_reduce` replay executes, so argmin assignments are
   bit-identical, not approximately equal.

Initialization is the k lowest-id vectors (deterministic, no RNG).
Empty clusters keep their previous centroid. Ties in distance break
toward the lower cluster id.

Precondition: every vector has the same dimensionality (the table
contract for an embedding column). Centroid means divide each
dimension's decimal sum by that dimension's row count — identical to
cluster size under the uniform-dim contract, and exactly what the
oracle's aligned-unnest replay computes per dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.functions.numeric import DET_DECIMAL
from elb_log_to_mysql_spark.session import ensure_min_partitions


def _sq_dist(vec, centroid):
    """Sequential left fold of (x_i - c_i)^2 — IEEE-exact and
    order-pinned so a SQL list_reduce replay is bit-identical.
    (a-b)*(a-b), not pow(a-b, 2): pow goes through libm in some
    engines and is not guaranteed correctly rounded."""
    return F.aggregate(
        F.zip_with(vec, centroid, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, zero shuffle on the corpus side.

    The k centroid arrays are collapsed into ONE row holding a
    cluster-id-ordered ``array<struct<cluster_id,_centroid>>`` (k×dim
    doubles — tiny even at sharding-scale k), that single row is
    broadcast-joined to the corpus, and the argmin is computed IN-ROW
    with a higher-order fold. Unlike the previous shape (fan out k
    distance rows per vector + ``row_number`` argmin window), there
    is no k× row blow-up and no exchange between the vector scan and
    the assignment — cost is linear in corpus rows with a k×dim
    per-row compute term, so semantic sharding at k in the thousands
    costs CPU, not shuffle.

    Bit-parity with the windowed form: each per-centroid distance is
    the same left-to-right IEEE fold (`_sq_dist`), the struct array
    is sorted by cluster_id, and the fold replaces only on a STRICT
    ``<`` — so ties keep the earliest (lowest cluster_id), exactly
    the ``orderBy(_dist, cluster_id)`` tie rule the oracle replays.
    """
    cents = centroids.agg(
        F.array_sort(F.collect_list(F.struct("cluster_id", "_centroid"))).alias(
            "_cents"
        )
    )
    scored = F.transform(
        F.col("_cents"),
        lambda s: F.struct(
            s.cluster_id.alias("cluster_id"),
            _sq_dist(F.col("_vec"), s._centroid).alias("_dist"),
        ),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(-1).alias("cluster_id"),
            F.lit(float("inf")).alias("_dist"),
        ),
        # the sentinel guard makes the FIRST element always install,
        # so an all-NaN distance row (a NaN coordinate poisons every
        # fold) lands in cluster 0 with its NaN distance — identical
        # to the windowed form's orderBy tie rule, where NaN sorts
        # last but equal-NaN rows tie-break to the lowest cluster id.
        # For finite distances the guard is inert (first element
        # replaces inf anyway) and strict < keeps the earliest min.
        lambda acc, x: F.when(
            (acc.cluster_id == -1) | (x._dist < acc._dist), x
        ).otherwise(acc),
    )
    return vectors.join(F.broadcast(cents)).select(
        "vec_id",
        "_vec",
        best.cluster_id.alias("cluster_id"),
        best._dist.alias("_dist"),
    )


def kmeans_embeddings(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 2,
) -> DataFrame:
    """Full-table Lloyd's k-means, `iterations` assignment rounds.

    Returns one row per input vector: (vec_id, cluster_id, dist) for
    the FINAL assignment, where `dist` is the squared distance to the
    final centroid — every column a deterministic function of the
    input table alone.

    Plan shape per iteration: one narrow posexplode→agg for the
    decimal centroid sums (map-side partial combine carries k×dim
    groups), one ≤k-row window to rebuild centroid arrays, one
    single-row broadcast join + in-row higher-order argmin for
    reassignment (see `_assign` — no exchange and no k× fan-out on
    the corpus side). The driver never sees a vector; iteration state
    is the k×dim centroid table. At 1000 executors the only shuffle
    is the k×dim centroid aggregation — keyed on (cluster, dim), no
    skew hazard — and assignment cost stays linear in corpus rows as
    k grows to sharding scale.
    """
    # NULL vectors are excluded EXPLICITLY: a null distance would sort
    # NULLS FIRST in Spark's argmin window but NULLS LAST in a SQL
    # replay — filtering in both engines is the only portable contract
    vectors = (
        ensure_min_partitions(embeddings)
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("_vec"),
        )
    )

    # init: the k lowest-id vectors, ranked 0..k-1 by id
    seeds = vectors.orderBy("vec_id").limit(k)
    wseed = Window.partitionBy(F.lit(0)).orderBy("vec_id")
    centroids = seeds.select(
        (F.row_number().over(wseed) - 1).alias("cluster_id"),
        F.col("_vec").alias("_centroid"),
    )

    assigned = _assign(vectors, centroids)
    for _ in range(iterations - 1):
        # decimal-exact per-(cluster, dim) sums -> double means
        dim_means = (
            assigned.select(
                "cluster_id", F.posexplode("_vec").alias("_pos", "_x")
            )
            .groupBy("cluster_id", "_pos")
            .agg(
                F.sum(F.col("_x").cast(DET_DECIMAL)).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .select(
                "cluster_id",
                "_pos",
                (
                    F.col("_s").cast("string").cast("double") / F.col("_n")
                ).alias("_m"),
            )
        )
        new_centroids = dim_means.groupBy("cluster_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                lambda s: s._m,
            ).alias("_centroid")
        )
        # empty clusters keep their previous centroid; localCheckpoint
        # truncates the lineage so iteration i's plan starts from the
        # materialized k-row centroid table instead of replaying every
        # earlier round (the same bound pagerank uses, graph.py:17) —
        # without it the plan depth grows with the iteration count
        centroids = (
            centroids.alias("old")
            .join(new_centroids.alias("new"), "cluster_id", "left")
            .select(
                "cluster_id",
                F.coalesce(F.col("new._centroid"), F.col("old._centroid")).alias(
                    "_centroid"
                ),
            )
            .localCheckpoint()
        )
        assigned = _assign(vectors, centroids)

    return assigned.select(
        "vec_id", "cluster_id", F.col("_dist").alias("dist")
    )
