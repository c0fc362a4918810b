"""Explicit StructType schemas for every table the engine touches.

The reference works over implicit row schemas (RecordDTO,
SolrInputDocument — Indexer.java:195-217); here every stage has a
fail-fast explicit schema, validated before writes (analog of the
reference's fatal schema-mismatch path, Indexer.java:164-168).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input source table — matches BASELINE.json input_hint exactly, plus
# the fixture columns from FIXTURES.md §1 (deleted, modified).
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("deleted", T.BooleanType(), False),
        T.StructField("modified", T.TimestampType(), True),
    ]
)

# Documents table: source rows + derived identity/invariant columns.
# doc_id is a dense deterministic long; content_sha256 is the per-row
# invariant asserted against the source table (input_hint).
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("deleted", T.BooleanType(), False),
        T.StructField("modified", T.TimestampType(), True),
        T.StructField("content_sha256", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

# Exploded token stream: one row per (doc, field, term) occurrence.
TOKEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
    ]
)

# Compressed postings segment (one per doc-bucket — the scale unit).
# doc_ids/tfs are delta-gap + varint blobs; block_* arrays carry
# per-block metadata (128-doc blocks) that no kernel reads (codec.py).
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("block_max_tf", T.ArrayType(T.LongType()), False),
        T.StructField("block_min_dl", T.ArrayType(T.LongType()), False),
        T.StructField("block_last_docid", T.ArrayType(T.LongType()), False),
    ]
)

# Per-(doc, field) length statistics for BM25 normalization.
DOCLEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("len", T.LongType(), False),
    ]
)

# Corpus-level stats per field (N docs, total length → avgdl).
FIELDSTATS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("total_len", T.LongType(), False),
        T.StructField("avgdl", T.DoubleType(), False),
    ]
)

# Per-partition build ledger — the resumability + lineage + metrics
# analog of the reference's transaction-per-job + trackingId + stopwatch
# discipline (Indexer.java:97-116, 235-246, 107-109).
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("build_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("postings_emitted", T.LongType(), False),
        T.StructField("bytes_compressed", T.LongType(), False),
        T.StructField("skew_ratio", T.DoubleType(), False),
        T.StructField("elapsed_sec", T.DoubleType(), False),
        T.StructField("tracking_id", T.StringType(), False),
        # failure reason, null on success — the reference persists the
        # error string back onto the failed queue item
        # (RawRepoQueueBean.java:28-34) so an operator can see WHY a
        # bucket failed without trawling driver logs; resume retries
        # failed buckets (they never get status=done) and the reason
        # survives in the append-only ledger
        T.StructField("error", T.StringType(), True),
    ]
)

# Query set (FIXTURES.md §3).
QUERY_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("terms", T.ArrayType(T.StringType()), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("k", T.IntegerType(), False),
    ]
)

# Top-k result rows.
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def assert_schema(df, expected: T.StructType, name: str) -> None:
    """Fail fast on schema drift (analog Indexer.java:164-168: unknown
    field in the sink is fatal, not retried)."""
    got = {(f.name, f.dataType.simpleString()) for f in df.schema.fields}
    want = {(f.name, f.dataType.simpleString()) for f in expected.fields}
    if got != want:
        missing = want - got
        extra = got - want
        raise ValueError(
            f"schema mismatch for {name}: missing={sorted(missing)} extra={sorted(extra)}"
        )
