"""BM25 top-k retrieval (the capability the reference delegates to
Solr — SolrQuery at IndexerIT.java:98-105, ranking Q7 in SURVEY §2).

Two scorers, rank-identical by test contract:

- :func:`bm25_topk_flat` — pure DataFrame joins over the uncompressed
  tf/doclen/stats frames (the verification path; also the clearest
  Catalyst plan: broadcast the tiny query-term side, shuffle nothing
  that isn't already keyed).
- MaxScore over compressed postings lives in wand.py (fast path).

Scoring (Lucene-style BM25, k1=1.2, b=0.75):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(t, d) = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

Ties broken (score DESC, doc_id ASC) — deterministic across
parallelism levels (the float sum is over ≤ a handful of per-term
doubles accumulated by Spark's sum in arbitrary order; tests compare
with tolerance on score and exactly on rank after tie-break).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ftidx import BM25_B, BM25_K1


def bm25_score_terms(
    tf: DataFrame,
    doclen: DataFrame,
    fieldstats: DataFrame,
    terms: list[str],
    field: str = "code.content",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Score every matching doc for a bag of query terms.

    Plan shape: postings filtered to the query terms (predicate pushes
    to the tf scan), joined to doclen on (doc_id, field) — both sides
    already keyed — and to the one-row-per-field stats via broadcast.
    """
    qterms = sorted(set(terms))
    matches = tf.filter((F.col("field") == field) & F.col("term").isin(qterms))
    df_stats = matches.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = fieldstats.filter(F.col("field") == field).select("n_docs", "avgdl")

    scored = (
        matches.join(F.broadcast(df_stats), "term")
        .join(doclen.filter(F.col("field") == field).select("doc_id", "len"), "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_c = F.col("tf").cast("double")
    norm = tf_c + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("len").cast("double") / F.col("avgdl")
    )
    contrib = idf * tf_c * F.lit(k1 + 1.0) / norm
    return (
        scored.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"), F.count(F.lit(1)).alias("n_terms_hit"))
    )


def topk(scored: DataFrame, k: int) -> DataFrame:
    """ORDER BY score DESC, doc_id ASC LIMIT k — Spark plans this as
    TakeOrderedAndProject (no global sort materialization)."""
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "score")
    )


def bm25_topk_flat(
    tf: DataFrame,
    doclen: DataFrame,
    fieldstats: DataFrame,
    terms: list[str],
    k: int = 10,
    field: str = "code.content",
    tombstones: DataFrame | None = None,
    require_all: bool = False,
    exclude: list[str] | None = None,
) -> DataFrame:
    """``require_all`` keeps only docs matching EVERY query term
    (n_terms_hit already rides on the aggregate — the filter is free);
    ``exclude`` anti-joins docs containing any excluded term."""
    scored = bm25_score_terms(tf, doclen, fieldstats, terms, field)
    if require_all:
        scored = scored.filter(
            F.col("n_terms_hit") == len(set(terms)))
    if exclude:
        xdocs = tf.filter(
            (F.col("field") == field) & F.col("term").isin(sorted(set(exclude)))
        ).select("doc_id").distinct()
        scored = scored.join(xdocs, "doc_id", "left_anti")
    if tombstones is not None:
        # delete-by-id analog (Indexer.java:219-222): anti-join beats a
        # rewrite when deletes are sparse; maintenance.compact() folds
        # them into the postings for the steady state.
        scored = scored.join(F.broadcast(tombstones), "doc_id", "left_anti")
    return topk(scored, k)


def run_query_set(
    queries: DataFrame,
    tf: DataFrame,
    doclen: DataFrame,
    fieldstats: DataFrame,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Batch variant: score a whole query table in ONE Spark job.

    Explodes queries to (query_id, term) rows, joins the (small,
    broadcast) query side against the postings once, then takes top-k
    per query with a window — this is how the engine amortizes 10^3
    queries over a single postings scan instead of 10^3 jobs.
    """
    q = queries.select(
        "query_id", "k", "field", F.explode("terms").alias("term")
    ).distinct()
    matches = tf.join(F.broadcast(q), ["term", "field"])
    dfreq = (
        tf.join(F.broadcast(q.select("term", "field").distinct()), ["term", "field"])
        .groupBy("term", "field")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        matches.join(F.broadcast(dfreq), ["term", "field"])
        .join(doclen, ["doc_id", "field"])
        .join(F.broadcast(fieldstats.select("field", "n_docs", "avgdl")), "field")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_c = F.col("tf").cast("double")
    norm = tf_c + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("len").cast("double") / F.col("avgdl")
    )
    per_doc = (
        scored.withColumn("contrib", idf * tf_c * F.lit(BM25_K1 + 1.0) / norm)
        .groupBy("query_id", "doc_id", "k")
        .agg(F.sum("contrib").alias("score"))
    )
    if tombstones is not None:
        per_doc = per_doc.join(F.broadcast(tombstones), "doc_id", "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )
