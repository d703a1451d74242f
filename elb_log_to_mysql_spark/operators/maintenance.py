"""Table-maintenance planning operators: compaction bin-packing and
block-statistics pruning reports.

At 100 TB a table is only as fast as its layout, and the two
maintenance jobs every lakehouse runs are (a) small-file compaction
(bin-pack many undersized files into ~target-size outputs, Delta
OPTIMIZE-style) and (b) building/consulting per-block min-max
statistics so predicates skip blocks without reading them (Delta /
Iceberg stats, parquet row-group pruning made queryable). Both are
planned here as *data*: the plan is a DataFrame you can inspect,
join, or hand to a rewrite job — which is exactly how production
table services schedule their work.

Scale design:
- Compaction packs files in scan order WITHIN each table partition
  (the unit a real compactor rewrites); the cumulative-size window
  is per-partition, so the job parallelizes across partitions and
  never needs a global sort.
- The stats report derives a global clustered position with the same
  two-pass bucketed prefix-sum trick as pipeline.py's shuffle_index
  (coarse range bucket -> broadcast offsets -> local window): no
  single-partition window at any size, and the block ids equal the
  ones a single ORDER BY would produce because the bucket key is a
  monotone coarsening of the sort key.

No analogous operator exists in the reference (its 193-line ETL
rewrites one MySQL table per run: etl.py:139-160); this surface is
part of the mandated large-scale-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def compaction_plan(
    df: DataFrame,
    part_col: str = "source",
    order_col: str = "doc_id",
    size_col: str = "n_chars",
    target_bytes: int = 2048,
) -> DataFrame:
    """Scan-order bin-packing compaction plan, one row per output bin.

    Within each table partition, objects are walked in `order_col`
    order and assigned to output bins of ~`target_bytes`: an object
    lands in bin floor(cum_bytes_before / target). Scan-order packing
    (vs first-fit-decreasing) is what real compactors do — it
    preserves clustering, needs one window pass instead of a global
    size sort, and the `target` is a soft cap (a bin may overflow by
    at most one object, never split one).

    Returns (part_col, bin, n_objects, bin_bytes, first/last order
    key) — everything a rewrite scheduler needs to size and order the
    actual rewrite tasks.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    binned = df.withColumn(
        "bin", F.floor(cum_before / F.lit(target_bytes)).cast("long")
    )
    return binned.groupBy(part_col, "bin").agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.sum(size_col).cast("long").alias("bin_bytes"),
        F.min(order_col).alias("first_key"),
        F.max(order_col).alias("last_key"),
    )


def _clustered_position(
    df: DataFrame, bucket: Column, order_cols: list[str]
) -> DataFrame:
    """Global 0-based position under ORDER BY order_cols, computed
    without a single-partition window: per-bucket counts -> broadcast
    exclusive offsets -> per-bucket local row_number. Correct whenever
    `bucket` is a monotone coarsening of the order key (equal-order
    rows share a bucket boundary ordering).

    NULL bucket values (NULL cluster column) map to a LOW sentinel so
    the equi-join keeps them — NULL join keys never match, and the
    rows would otherwise vanish from the index, understating
    rows_total. The sentinel sorts first, matching Spark's ASC NULLS
    FIRST window ordering of the cluster column itself."""
    keyed = df.withColumn(
        "_ckb", F.coalesce(bucket, F.lit(-(1 << 62)).cast("long"))
    )
    counts = keyed.groupBy("_ckb").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_n").over(
                Window.partitionBy(F.lit(0))
                .orderBy("_ckb")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_ckb", "_off")
    local = (
        F.row_number().over(Window.partitionBy("_ckb").orderBy(*order_cols)) - 1
    )
    return (
        keyed.join(F.broadcast(offsets), "_ckb")
        .withColumn("_pos", (F.col("_off") + local).cast("long"))
        .drop("_ckb", "_off")
    )


def stats_prune_report(
    df: DataFrame,
    cluster_col: str,
    tiebreak_col: str,
    lo: str,
    hi: str,
    block_rows: int = 512,
) -> DataFrame:
    """Data-skipping effectiveness report for a half-open range
    predicate `lo <= cluster_col < hi` against per-block min/max statistics.

    A block is KEPT iff its [min, max] interval can intersect the
    predicate range (max >= lo AND min < hi) — the same test a
    parquet reader applies to row-group stats. The report returns one
    row: total/kept block counts, rows in kept blocks (what a pruned
    scan reads), and rows actually matching (what the query returns) —
    the kept/total ratio IS the I/O the layout saves, and
    rows_matched <= rows_scanned <= rows_total holds structurally.
    """
    lo_c, hi_c = F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")
    pos = _clustered_position(
        df, F.year(cluster_col).cast("long"), [cluster_col, tiebreak_col]
    )
    blocked = pos.withColumn(
        "block_id", F.floor(F.col("_pos") / F.lit(block_rows)).cast("long")
    )
    # One pass builds the stats AND the per-block match count — the
    # predicate evaluation rides the same partial aggregate as min/max,
    # so the report costs exactly one shuffle over block ids.
    stats = blocked.groupBy("block_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(cluster_col).alias("mn"),
        F.max(cluster_col).alias("mx"),
        F.sum(
            F.when((F.col(cluster_col) >= lo_c) & (F.col(cluster_col) < hi_c), 1)
            .otherwise(0)
        ).alias("n_matched"),
    )
    per_block = stats.withColumn(
        "kept", (F.col("mx") >= lo_c) & (F.col("mn") < hi_c)
    )
    return per_block.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias(
            "n_blocks_kept"
        ),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.when(F.col("kept"), F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("n_matched").cast("long").alias("rows_matched"),
    )


def file_compaction_plan(
    spark,
    table_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    glob: str = "*.parquet",
) -> DataFrame:
    """Compaction plan over the REAL files of a (possibly
    hive-partitioned) table directory: list files with the binaryFile
    source (path + length only — content is never read; the listing
    pushes the glob down), derive the partition directory from each
    path, and bin-pack per partition in path order with the same
    exclusive-cumsum packing as compaction_plan. Output bins name
    their first/last member files — directly schedulable as rewrite
    tasks.

    The default 128 MiB target is the usual parquet sweet spot (one
    comfortable HDFS/object-store block, several row groups). At
    100 TB the listing itself is a distributed scan of the file
    index, not a driver loop — binaryFile parallelizes it."""
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(table_dir)
        .select(
            F.col("path"),
            F.col("length").cast("long").alias("length"),
        )
        .withColumn(
            "partition",
            F.regexp_replace(
                F.col("path"), r"/[^/]+$", ""
            ),
        )
    )
    return compaction_plan(
        listing,
        part_col="partition",
        order_col="path",
        size_col="length",
        target_bytes=target_bytes,
    )
