"""Hybrid retrieval: lexical + semantic legs fused by reciprocal-rank
fusion (RRF, Cormack et al. 2009 — the standard score-free fusion
every hybrid search stack ships).

Query-by-example over the corpus: each query document ranks its
neighbors twice — a lexical leg (distinct-token overlap, exact
integer scores) and a semantic leg (cosine over the embedding
column) — and RRF merges the two top-k lists with
score(d) = Σ_legs 1/(rrf_k + rank_leg(d)), which needs no score
calibration between legs (only ranks enter).

Scale shape: the query block broadcasts in both legs (the corpus
never shuffles for either join); the lexical overlap aggregates on
(query, doc) with map-side combine; fusion is a full-outer join of
two already-top-k lists — |Q|·k rows per leg, trivially small. The
final ordering is deterministic: integer overlap counts and ranks
tiebreak on doc_id, and the RRF score is the same IEEE double in any
engine because only small-integer ranks enter it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.operators.dedup import ws_tokens
from elb_log_to_mysql_spark.operators.similarity import similarity_topk_bruteforce
from elb_log_to_mysql_spark.session import ensure_min_partitions


def lexical_topk(
    documents: DataFrame,
    queries: DataFrame,
    k: int = 20,
) -> DataFrame:
    """Top-k corpus documents per query document by DISTINCT-token
    overlap — the exact-integer lexical ranking leg. The query side
    (small) explodes and broadcasts; overlap aggregates on
    (query_id, doc_id) with partial aggregation; per-query top-k via
    window with doc_id tiebreak."""
    toks = F.array_distinct(ws_tokens(F.col("text")))
    qt = queries.select(
        F.col("doc_id").alias("query_id"), F.explode(toks).alias("term")
    )
    ct = ensure_min_partitions(documents).select(
        "doc_id", F.explode(toks).alias("term")
    )
    ov = (
        ct.join(F.broadcast(qt), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("overlap").desc(), "doc_id"
    )
    return (
        ov.withColumn("rank_lex", F.row_number().over(w).cast("int"))
        .filter(F.col("rank_lex") <= k)
        .select("query_id", "doc_id", "overlap", "rank_lex")
    )


def hybrid_rrf(
    documents: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 10,
    k_leg: int = 20,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """RRF fusion of the lexical and semantic top-k_leg lists, final
    top-k per query. Convention: embeddings.vec_id aligns with
    documents.doc_id (the fixture corpus is generated that way; a
    production pipeline carries the mapping explicitly).

    Output keeps both leg ranks (nullable ints — a doc may appear in
    only one leg) plus the fused rank; the float RRF score stays
    internal per the determinism contract."""
    lex = lexical_topk(
        documents, documents.filter(F.col("doc_id") < n_queries), k=k_leg
    ).select("query_id", "doc_id", "rank_lex")
    sem = similarity_topk_bruteforce(
        embeddings, embeddings.filter(F.col("vec_id") < n_queries), k=k_leg
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("int").alias("rank_sem"),
    )
    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_lex")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_sem")), F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(F.col("_rrf").desc(), "doc_id")
    return (
        fused.withColumn("_rrf", rrf)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank_lex", "rank_sem", "rank")
    )
