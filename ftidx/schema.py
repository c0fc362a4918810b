"""Explicit StructType schemas for every table the engine touches, and
the one reader of an index directory's tables.

The reference works over implicit row schemas (RecordDTO,
SolrInputDocument — Indexer.java:195-217); here every stage has a
fail-fast explicit schema, validated before writes (analog of the
reference's fatal schema-mismatch path, Indexer.java:164-168). Each
index table is declared once, in :data:`INDEX_TABLES`, and Spark reads
it only through :func:`read_table`, which hands the reader that schema:
a reader left to infer a schema runs one Spark job per read.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
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

# Positional postings (ftidx.positions): one row per (field, term,
# bucket), three varint blobs — doc ids, tfs and flattened positions.
POSITIONS_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("field", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("doc_ids", T.BinaryType(), False),
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("pos", T.BinaryType(), False),
])


def _cols(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in cols])


def _batched(schema: T.StructType) -> T.StructType:
    """A streamed delta table: ``schema`` under ``batch=<epoch>`` dirs."""
    return T.StructType(schema.fields + [T.StructField("batch", T.LongType())])


_LONG, _INT, _STR = T.LongType(), T.IntegerType(), T.StringType()
_DOCLEN = _cols(("doc_id", _LONG), ("field", _STR), ("len", _LONG),
                ("bucket", _INT))

# Every table an index directory holds, by directory name: the build's
# (bucket-partitioned except stats, termstats and ledger), the
# tombstones, compaction's resolved-id map, and the streamed delta
# tables, whose segments sit in ``batch=<epoch>`` dirs.
INDEX_TABLES: dict[str, T.StructType] = {
    "postings": POSTINGS_SCHEMA,
    "doclen": _DOCLEN,
    # the prepared docs' metadata, content excluded (that is ``stored``)
    "docs": _cols(("doc_id", _LONG), ("repo", _STR), ("path", _STR),
                  ("commit", _STR), ("lang", _STR),
                  ("deleted", T.BooleanType()),
                  ("modified", T.TimestampType()),
                  ("content_sha256", _STR), ("bucket", _INT)),
    "stored": _cols(("doc_id", _LONG), ("content", _STR), ("bucket", _INT)),
    "positions": POSITIONS_SCHEMA,
    "tombstones": _cols(("doc_id", _LONG)),
    # corpus-level stats per field (N docs, total length → avgdl)
    "stats": _cols(("field", _STR), ("n_docs", _LONG), ("total_len", _LONG),
                   ("avgdl", T.DoubleType())),
    "termstats": _cols(("field", _STR), ("term", _STR), ("df_total", _LONG)),
    "ledger": CHECKPOINT_SCHEMA,
    "_compact_idmap": _cols(("doc_id", _LONG), ("bucket", _INT)),
    "deltas": _batched(POSTINGS_SCHEMA),
    "delta_doclen": _batched(_DOCLEN),
    "delta_positions": _batched(POSITIONS_SCHEMA),
}
_BATCH_TABLES = ("deltas", "delta_doclen", "delta_positions")


def batch_dirs(d: Path) -> list[Path]:
    """The existing ``batch=<n>`` segment dirs of a delta table."""
    return sorted(p for p in d.iterdir()
                  if p.is_dir() and p.name.startswith("batch=")) \
        if d.exists() else []


def has_table(path: str | Path, name: str) -> bool:
    """Whether table ``name`` of the index at ``path`` holds any files
    (a delta table: any ``batch=<n>`` dir)."""
    d = Path(path) / name
    if name in _BATCH_TABLES:
        return bool(batch_dirs(d))
    return d.exists() and any(d.iterdir())


def read_table(spark: SparkSession, path: str | Path, name: str) -> DataFrame:
    """Table ``name`` of the index at ``path``, read with its declared
    schema: no schema-inference job. An absent or empty table reads as
    an empty frame of that schema. A delta table is read from its listed
    ``batch=<n>`` dirs with ``batch`` as a column (a ``batch=*`` glob
    makes Spark probe the literal glob path for streaming-sink metadata
    and log a FileNotFoundException stack per read); the tombstones are
    read recursively, as streamed deletes land in ``batch=<n>`` dirs."""
    schema = INDEX_TABLES[name]
    if not has_table(path, name):
        return spark.createDataFrame([], schema)
    d = Path(path) / name
    reader = spark.read.schema(schema)
    if name in _BATCH_TABLES:
        return reader.option("basePath", str(d)).parquet(
            *map(str, batch_dirs(d)))
    if name == "tombstones":
        reader = reader.option("recursiveFileLookup", "true")
    return reader.parquet(str(d))


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
