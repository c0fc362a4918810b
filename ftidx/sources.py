"""Source/sink adapters: Iceberg-first, parquet fallback.

The production input (BASELINE.json input_hint) is an Iceberg table of
source-code files. The Iceberg runtime jars are not in this container,
so the adapter probes for the catalog and falls back to plain parquet
(same schema, same downstream plan — Catalyst pushes the identical
filters/pruning into either scan). On a real cluster, run with

    spark-submit --py-files ftidx.zip \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog ...

and pass ``lake.db.source_files`` as the source.

Incremental builds read Iceberg snapshot ranges (the changed-record
queue analog, SURVEY §2 S2): ``read_incremental`` uses Iceberg's
``start-snapshot-id``/``end-snapshot-id`` options when available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ftidx.schema import SOURCE_SCHEMA, assert_schema


def preflight(spark: SparkSession, location: str,
              check_schema: bool = True) -> DataFrame:
    """Pre-flight gate (S4): verify the source exists and is readable
    BEFORE any job is submitted — the analog of the reference pinging
    Solr before draining the queue (Indexer.java:90-94: a dead sink
    aborts the pass up front instead of failing mid-drain).

    Raises ``RuntimeError`` with the location when the table/path is
    missing or unreadable; optionally fail-fast on schema drift too
    (S26 — the gate build_index also applies). Returns the DataFrame
    so callers go straight to the build."""
    try:
        df = read_source(spark, location)
        df.schema  # parquet: forces footer read; iceberg: table load
    except Exception as e:
        raise RuntimeError(
            f"preflight failed: source {location!r} does not exist or is "
            f"not readable ({type(e).__name__}: {e})"
        ) from None
    if check_schema:
        assert_schema(df, SOURCE_SCHEMA, f"source {location!r}")
    return df


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.spark.SparkCatalog  # noqa: B018
        return True
    except Exception:
        return False


def read_source(spark: SparkSession, location: str) -> DataFrame:
    """Read the source-files table from an Iceberg table name or a
    parquet path (auto-detected)."""
    if "/" not in location and iceberg_available(spark):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def read_incremental(spark: SparkSession, location: str,
                     start_snapshot: str | None = None,
                     end_snapshot: str | None = None) -> DataFrame:
    """Changed-rows scan between two snapshots (Iceberg incremental
    read). Parquet fallback reads everything — callers then diff by
    content_sha256 against the index's docs table (maintenance.upsert
    does exactly that), which is the portable change-detection path."""
    if "/" not in location and iceberg_available(spark):
        reader = spark.read.format("iceberg")
        if start_snapshot:
            reader = reader.option("start-snapshot-id", start_snapshot)
        if end_snapshot:
            reader = reader.option("end-snapshot-id", end_snapshot)
        return reader.load(location)
    return spark.read.parquet(location)

