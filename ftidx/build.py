"""Index build: document preparation, term statistics, postings.

Pipeline (one Spark job, analog of the reference's dequeue→fetch→
transform→upsert loop, Indexer.java:84-131, but set-oriented):

    source scan → doc-id assignment → tombstone split → tokenize
    → tf agg → doclen/field stats → postings encode (codec.py)

Scale design notes (10^12 files):

- **doc_id** is ``bucket * 2^40 + local_rank``: bucket =
  ``pmod(xxhash64(repo, path, commit), n_buckets)``, local_rank =
  dense row_number within the bucket ordered by the natural key.
  Deterministic and partition-layout independent (required for merge
  determinism), collision-free (unlike a raw 64-bit hash at 10^12
  docs), and dense within a bucket (delta-gap compression stays
  effective). Each bucket is an independent index segment — the unit
  of checkpoint/resume and of query-side parallelism, exactly like a
  Solr shard (which the reference delegates to, pom.xml:32-36).
- The per-bucket window ranks ~corpus/n_buckets rows per task; with
  2^20 buckets at 10^12 docs that is ~10^6 rows/task — comfortably
  in-memory, and the sort is local to the bucket partition.
- tf aggregation is a map-side-combinable ``groupBy`` (partial
  aggregation happens before the shuffle — Catalyst does this
  automatically for count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ftidx.tokenize import tokenize

BUCKET_SHIFT = 40  # doc_id = bucket << 40 | local_rank
DEFAULT_BUCKETS = 16


def prepare_docs(source: DataFrame, n_buckets: int = DEFAULT_BUCKETS,
                 n_partitions: int | None = None) -> DataFrame:
    """source (input_hint schema) → docs with deterministic doc_id,
    content_sha256 (the per-row invariant, input_hint), and bucket.

    Includes tombstoned rows — routing happens downstream
    (Indexer.java:157-161 analog in :func:`live_docs` /
    :func:`deleted_docs`).

    ``n_partitions`` pre-repartitions by bucket BEFORE the rank window:
    the window's ClusteredDistribution(bucket) is satisfied by any
    hash-partitioning on bucket, so no second exchange is inserted and
    every downstream bucket-clustered consumer (the encode kernels, the
    partitionBy writes) reuses this ONE shuffle of the raw corpus —
    the single-shuffle build contract build_index relies on. Output
    values are identical either way (ranks derive from content order,
    never partition layout).
    """
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(n_buckets)).cast("int")
    w = Window.partitionBy("bucket").orderBy("repo", "path", "commit")
    source = source.withColumn("bucket", bucket)
    if n_partitions is not None:
        source = source.repartition(n_partitions, "bucket")
    return (
        source
        .withColumn("local_rank", F.row_number().over(w) - F.lit(1))
        .withColumn(
            "doc_id",
            (F.col("bucket").cast("long") * F.lit(1 << BUCKET_SHIFT) + F.col("local_rank")),
        )
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
        .drop("local_rank")
        .select(
            "doc_id", "repo", "path", "commit", "lang", "content",
            "deleted", "modified", "content_sha256", "bucket",
        )
    )


def live_docs(docs: DataFrame) -> DataFrame:
    """Missing-record filter + tombstone routing (S6/S7): only live,
    non-null-content rows are indexed."""
    return docs.filter((~F.col("deleted")) & F.col("content").isNotNull())


def deleted_docs(docs: DataFrame) -> DataFrame:
    """Tombstones → delete path (S7/S8): anti-joined against the index
    at query/maintenance time."""
    return docs.filter(F.col("deleted")).select("doc_id")


def term_frequencies(tokens: DataFrame) -> DataFrame:
    """(doc_id, field, term) occurrences → tf per (term, field, doc_id).

    The multi-value accumulate analog (indexer.js:16-21): duplicates
    become tf counts. Map-side partial aggregation makes this one
    shuffle of pre-combined rows.
    """
    return tokens.groupBy("term", "field", "doc_id").agg(F.count(F.lit(1)).alias("tf"))


def doc_lengths(tf: DataFrame) -> DataFrame:
    """BM25 length normalization input: per (doc, field) token count."""
    return tf.groupBy("doc_id", "field").agg(F.sum("tf").alias("len"))


def field_stats(doclen: DataFrame) -> DataFrame:
    """Corpus stats per field: N, total length, avgdl (BM25 inputs the
    reference gets for free inside Solr — Q4 in SURVEY §2)."""
    return doclen.groupBy("field").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len").alias("total_len"),
        (F.sum("len") / F.count(F.lit(1))).cast("double").alias("avgdl"),
    )


def build_flat(source: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> dict[str, DataFrame]:
    """MVP end-to-end slice (SURVEY §7 step 3): uncompressed postings
    as plain DataFrames. Proves tokenization + rank math before the
    compressed codec path exists. Returned frames are lazily
    evaluated; callers should .cache() what they reuse.
    """
    docs = prepare_docs(source, n_buckets)
    live = live_docs(docs)
    tokens = tokenize(live)
    tf = term_frequencies(tokens)
    doclen = doc_lengths(tf)
    stats = field_stats(doclen)
    return {
        "docs": docs,
        "live": live,
        "tf": tf,
        "doclen": doclen,
        "fieldstats": stats,
        "deleted": deleted_docs(docs),
    }
