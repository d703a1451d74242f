"""Graph operators: connected components for dedup clustering.

Near-dup detection (operators/dedup.py) emits PAIRS; acting on them
(keep one survivor per duplicate group) needs the transitive closure:
cluster ids. The reference engine has no analog (no joins at all —
SURVEY §2.1); this is part of the LLM-pipeline extension surface.

Algorithm: iterative min-label propagation — every node starts
labeled with its own id; each round every node takes the min label
among itself and its neighbors; fixpoint = each node holds the min
id of its component. Rounds needed = graph diameter, and dedup
graphs are shallow (near-clique clusters, diameter ≲ 3), so the
simple 1-hop propagation beats pointer-jumping cleverness here.

Scale posture:
- each round is ONE shuffle (join on node id) + ONE aggregation;
- `localCheckpoint` after each round truncates the lineage — without
  it the iterative plan nests and re-executes all prior rounds (on a
  cluster, use reliable checkpointing instead);
- convergence check is a single count per round (the changed-label
  count), the only driver-side value in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 20,
) -> DataFrame:
    """(id, cluster_id) for every node appearing in `edges`, where
    cluster_id = min node id in the node's connected component.
    Raises if not converged within `max_iter` rounds (diameter bound
    exceeded — raise max_iter, or the edge set is pathological)."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("u").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint()
    try:
        for _ in range(max_iter):
            nbr_labels = sym.join(
                labels.withColumnRenamed("id", "u"), "u"
            ).select(F.col("v").alias("id"), "label")
            new_labels = (
                labels.union(nbr_labels)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
            ).localCheckpoint()
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                return labels.select("id", F.col("label").alias("cluster_id"))
        raise RuntimeError(
            f"connected_components: no fixpoint within {max_iter} rounds"
        )
    finally:
        sym.unpersist()


def dedup_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    pair_a: str = "doc_id_a",
    pair_b: str = "doc_id_b",
) -> DataFrame:
    """Assign every document a duplicate-cluster id: min doc id of its
    near-dup component, or its own id if it has no near-dups. The
    canonical keep-one-per-cluster policy is then `cluster_id = id`.
    The component table has one row per doc appearing in any pair —
    usually small, but O(corpus) on a clone-dense crawl, so the join
    is NOT broadcast-hinted: AQE broadcasts it when it is actually
    small and falls back to a shuffle join when it is not (a forced
    hint would pin a corpus-scale table on the driver)."""
    cc = connected_components(pairs, pair_a, pair_b)
    return documents.join(
        cc.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list; returns
    (id, pr). Every node must have out-degree >= 1 (feed a
    symmetrized edge set for undirected graphs — no dangling-mass
    correction is applied).

    Each iteration is one shuffle: edges join the current rank vector
    on src (partial-agg contributions groupBy dst). The rank vector is
    localCheckpoint'ed per round so the plan doesn't nest iterations
    (on a cluster: reliable checkpoint). Contributions are summed
    through the exact-decimal contract (functions/numeric.py), so
    ranks are bit-identical across partitionings and to a single-node
    oracle unrolling the same iterations — floating summation order is
    the classic source of irreproducible PageRank.
    """
    from elb_log_to_mysql_spark.functions.numeric import dsum

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.persist()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = e.select(F.col("src").alias("id")).distinct().localCheckpoint()
    n = nodes.count()
    base = 0.15 / n  # literal 0.15, NOT 1-damping: bit-parity with the oracle
    pr = nodes.withColumn("pr", F.lit(1.0 / n)).localCheckpoint()
    for _ in range(iterations):
        contribs = (
            e.join(pr.withColumnRenamed("id", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("pr") / F.col("outdeg")).alias("c"),
            )
            .groupBy("id")
            .agg(dsum("c").alias("s"))
        )
        pr = (
            nodes.join(contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    e.unpersist()
    return pr


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count of the undirected graph in `edges`.

    Degree-ordered orientation: every edge points from its lower-
    degree endpoint (ties by id) to the higher — so wedges are only
    enumerated at each triangle's LOWEST-degree vertex. This is the
    standard arboricity bound (join work O(m^1.5) instead of
    sum-of-deg² — on a power-law graph the difference between a hub
    exploding into billions of wedges and a tractable join). Two
    shuffles: the wedge self-join on the oriented source, then the
    closing semi-join against the canonical edge set.
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    deg = (
        canon.select(F.col("u").alias("id"))
        .union(canon.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = (
        canon.join(deg.withColumnRenamed("id", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("id", "v").withColumnRenamed("d", "dv"), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.a") == F.col("e2.a")).filter(
        F.col("e1.b") < F.col("e2.b")
    ).select(
        F.col("e1.b").alias("x"), F.col("e2.b").alias("y")
    )
    closed = wedges.join(
        canon,
        (F.least("x", "y") == F.col("u")) & (F.greatest("x", "y") == F.col("v")),
    )
    from elb_log_to_mysql_spark.session import unpersist_on_gc

    return unpersist_on_gc(
        closed.agg(F.count(F.lit(1)).alias("n_triangles")), canon
    )
