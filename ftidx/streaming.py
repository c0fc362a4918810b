"""Structured Streaming front-end: continuous micro-batch indexing.

The reference's ingestion loop is hand-rolled micro-batch streaming —
an EJB timer fires every 5 s (Scheduler.java:17-25) and drains a
PostgreSQL queue until empty (Indexer.java:84-131), with at-least-once
delivery made idempotent by upsert-by-id into Solr. The Spark-native
re-expression is ``readStream`` over an arriving-files source +
``foreachBatch`` driving the same idempotent bucket upsert used in
batch (maintenance.upsert) — exactly-once per micro-batch via the
checkpointed source offsets + idempotent partition overwrites.

Design: the stream carries source-table rows (input_hint schema).
Each micro-batch:
  1. tombstone routing (S7): deleted rows → tombstone table append;
  2. live rows → the build's segment writer
     (index._bucket_local_encode, one kernel per bucket after one
     shuffle of the batch's docs) → per-batch postings DELTA written to
     ``deltas/batch=<epoch>`` (append-only, never rewrites the base
     index — the merge-on-read model); ``delta_doclen/batch=<epoch>``
     is exploded from the delta's ``__dl__`` rows, as in build;
  3. query side (FtIndex + deltas) sees new docs after the batch
     commits; periodic compaction folds deltas into base buckets.

For a 10^12-file corpus the delta model is the only one that works:
rewriting base buckets per micro-batch would be O(corpus); appending
per-batch segments is O(batch) and the WAND kernel already merges
disjoint segment runs (wand.TermList handles multiple rows per term).
"""

from __future__ import annotations

import json
import time
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftidx.build import live_docs
from ftidx.index import DOCS_FIELD, _bucket_local_encode, _doclen_rows, batch_dirs
from ftidx.schema import POSTINGS_SCHEMA, SOURCE_SCHEMA, assert_schema


def prepare_docs_hashid(source: DataFrame, n_buckets: int) -> DataFrame:
    """Streaming doc-id assignment: content-addressed hash id.

    Batch builds rank docs within a bucket (build.prepare_docs) — that
    needs a global view and would collide across micro-batches. Streamed
    docs instead use ``doc_id = pmod(xxhash64(repo, path, commit), 2^62)``:
    stable across batches, no coordination. Identity is
    (repo, path, commit), so an update arrives as delete(old commit) +
    add(new commit) — the content-addressed version of the reference's
    upsert-by-id (Indexer.java:224-229). 62-bit hash collisions are
    negligible at micro-batch scale; bulk rebuilds re-rank exactly.
    """
    return (
        source.withColumn(
            "doc_id", F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2**62))
        )
        .withColumn("bucket", F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(n_buckets)).cast("int"))
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
    )


def index_microbatch(batch_df: DataFrame, epoch_id: int, index_path: str,
                     n_buckets: int = 16) -> None:
    """foreachBatch body: idempotent per-epoch delta write.

    Idempotency (the reference's transaction-per-job analog,
    Indexer.java:97-116): the output path embeds the epoch id, so a
    replayed batch overwrites its own delta rather than duplicating.
    """
    spark = batch_df.sparkSession
    out = Path(index_path)
    # S26 schema gate: a drifted producer fails the batch immediately
    # (analog Indexer.java:164-168) instead of writing poisoned deltas
    assert_schema(batch_df, SOURCE_SCHEMA, f"microbatch epoch={epoch_id}")
    docs = prepare_docs_hashid(batch_df, n_buckets)

    tombs = docs.filter(F.col("deleted")).select("doc_id").distinct()
    if tombs.limit(1).count():
        tombs.write.mode("overwrite").parquet(str(out / "tombstones" / f"batch={epoch_id}"))

    live = live_docs(docs)
    # At-least-once producers can re-deliver a (repo, path, commit) row in
    # a LATER micro-batch (same-epoch replay is already idempotent via the
    # epoch-keyed overwrite). doc_id is the content-addressed identity, so:
    # (a) within-batch duplicates collapse to one row; (b) rows whose id is
    # already in an earlier delta are dropped by an anti-join against the
    # (column-pruned) delta doc-id set. Without this, the same doc lands in
    # two delta segments — breaking wand.TermList's one-segment-per-doc
    # assumption and double-counting its score. At 10^12 scale the seen-set
    # read becomes an indexed id-ledger or Bloom filter; the plan shape
    # (broadcast-able anti-join on a uniform key) is unchanged.
    live = live.dropDuplicates(["doc_id"])
    # the seen-set must EXCLUDE this epoch's own batch dir: a same-epoch
    # replay would otherwise anti-join its docs away against its own
    # prior write (an empty delta overwriting a good one), and the lazy
    # plan would hold a listing of part files the overwrite below
    # deletes (FileNotFoundException on the later positional write)
    seen_dir = out / "delta_doclen"
    prior = [str(p) for p in batch_dirs(seen_dir)
             if p.name != f"batch={epoch_id}"]
    if prior:
        seen = spark.read.parquet(*prior).select("doc_id").distinct()
        live = live.join(seen, "doc_id", "left_anti")
    # the build's segment writer over the batch's docs: the base
    # manifest's stem/shingle analyzers carry into every delta so those
    # fields stay complete across streamed docs (same parity rule as
    # the positional deltas below). Streaming never stored __docs__.
    man = json.loads((out / "_manifest.json").read_text()) \
        if (out / "_manifest.json").exists() else {}
    n_parts = max(min(n_buckets, int(spark.conf.get("spark.sql.shuffle.partitions"))), 1)
    delta_dir = out / "deltas" / f"batch={epoch_id}"
    (
        live.repartition(n_parts, "bucket")
        .mapInPandas(partial(_bucket_local_encode,
                             stem_field=bool(man.get("stem_field", False)),
                             shingle_field=bool(man.get("shingle_field", False))),
                     schema=POSTINGS_SCHEMA)
        .filter(F.col("field") != DOCS_FIELD)
        .write.mode("overwrite").parquet(str(delta_dir))
    )
    # bucket kept: compaction resolves a tombstoned streamed id to its
    # bucket through these rows (a hash id does not embed it)
    _doclen_rows(spark.read.parquet(str(delta_dir))).write.mode("overwrite") \
        .parquet(str(out / "delta_doclen" / f"batch={epoch_id}"))
    # positional parity for streamed docs (Solr soft-commit analog:
    # a doc visible to term queries is visible to phrase queries too):
    # when the base index carries positions, emit the batch's
    # positional blobs as an epoch-keyed delta segment — FtIndex
    # unions them at read time, compact folds them into the
    # base rows. Same idempotency (overwrite-own-epoch), same
    # bucket-local kernel as the batch build.
    pos_base = out / "positions"
    if pos_base.exists() and any(pos_base.iterdir()):
        from ftidx.positions import POSITIONS_SCHEMA, _bucket_local_positions

        pdocs = live.select("doc_id", "bucket", "content", "lang",
                            "repo", "path")
        (
            pdocs.repartition(n_parts, "bucket")
            .mapInPandas(_bucket_local_positions, schema=POSITIONS_SCHEMA)
            .write.mode("overwrite")
            .parquet(str(out / "delta_positions" / f"batch={epoch_id}"))
        )


def start_indexing_stream(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    *,
    n_buckets: int = 16,
    trigger_seconds: int = 5,
    checkpoint_dir: str | None = None,
):
    """readStream over arriving parquet files → micro-batch index deltas.

    trigger matches the reference's 5-second poll (Scheduler.java:17);
    the checkpoint dir is the queue-offset analog — restart resumes
    from the last committed batch, never re-reading acknowledged input.
    """
    stream = (
        spark.readStream.schema(SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(source_dir)
    )
    ckpt = checkpoint_dir or str(Path(index_path) / "_stream_checkpoint")
    return (
        stream.writeStream.foreachBatch(
            lambda df, eid: index_microbatch(df, eid, index_path, n_buckets)
        )
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def wait_for_stream(query, timeout_sec: float = 60.0) -> None:
    """Drain all available input (test helper — the reference's
    drain-until-empty loop, Indexer.java:96-127)."""
    deadline = time.time() + timeout_sec
    query.processAllAvailable()
    while time.time() < deadline and query.status["isDataAvailable"]:
        query.processAllAvailable()
        time.sleep(0.2)


def windowed_ingest_counts(spark: SparkSession, src_dir: str,
                           ts_col: str = "ts", group_col: str = "lang",
                           window_len: str = "1 minute",
                           watermark: str = "2 minutes") -> DataFrame:
    """Event-time windowed ingestion metrics with late-data handling:
    docs-per-(window, group) over an arriving-files stream, watermarked
    so state is bounded and stragglers later than ``watermark`` are
    dropped (the standard Structured Streaming windowed-agg shape; the
    reference's analog is its per-pass progress counters,
    Indexer.java:108-117, which have no event-time story at all).

    Append output mode: a window row is emitted exactly once, when the
    watermark passes its end — downstream consumers (dashboards, the
    ingestion ledger) see each window exactly once, and state for
    closed windows is dropped, so a 10^12-file backfill holds only
    O(open windows × groups) state per executor, not O(history)."""
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_len).alias("win"),
                 F.col(group_col).alias("grp"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.col("win.start").alias("win_start"),
                F.col("win.end").alias("win_end"),
                F.col("grp").alias(group_col), "n_docs")
    )


def run_windowed_counts(spark: SparkSession, src_dir: str,
                        checkpoint: str, **kwargs) -> list:
    """One availableNow drain of :func:`windowed_ingest_counts`;
    returns the window rows THIS run finalized (append mode → only
    windows the watermark newly passed, each exactly once). The
    checkpoint carries the watermark and window state across runs, so
    successive calls form one logical continuous stream. Sink is
    ``foreachBatch`` — the only sink shape that both supports
    checkpoint recovery and lets the caller land finalized windows
    wherever they want (here: returned; in production: the ledger)."""
    rows: list = []
    q = (
        windowed_ingest_counts(spark, src_dir, **kwargs)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _eid: rows.extend(df.collect()))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    wait_for_stream(q)
    q.awaitTermination(60)
    return rows


def repo_totals_updates(spark: SparkSession, src_dir: str,
                        group_col: str = "repo",
                        text_col: str = "content") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-repo ingestion totals (doc count, content bytes) that survive
    across micro-batches AND restarts — the stateful analog of the
    reference's per-pass counters, upgraded to whole-stream lineage.

    Each batch emits one row per repo seen in that batch carrying the
    UPDATED running totals (Arrow-batched pandas on the executor, no
    driver involvement). State is two longs per repo — at 10^12 files
    over ~10^8 repos that is a few GB spread across the cluster's
    state store, and the shuffle is keyed by repo exactly once."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, nbytes = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            nbytes += int(pdf[text_col].fillna("").str.len().sum())
        state.update((n, nbytes))
        yield pd.DataFrame({group_col: [key[0]],
                            "n_docs": [n], "n_bytes": [nbytes]})

    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    return stream.groupBy(group_col).applyInPandasWithState(
        update,
        outputStructType=f"{group_col} string, n_docs long, n_bytes long",
        stateStructType="n_docs long, n_bytes long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_repo_totals(spark: SparkSession, src_dir: str,
                    checkpoint: str, **kwargs) -> list:
    """One availableNow drain of :func:`repo_totals_updates`; returns
    the per-repo running-total rows this run emitted (latest row per
    repo wins — update semantics). foreachBatch sink for checkpoint
    recovery, same rationale as :func:`run_windowed_counts`."""
    rows: list = []
    q = (
        repo_totals_updates(spark, src_dir, **kwargs)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _eid: rows.extend(df.collect()))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    wait_for_stream(q)
    q.awaitTermination(60)
    return rows


def dedup_stream(spark: SparkSession, src_dir: str,
                 key_expr: str = "sha2(content, 256)",
                 ts_col: str = "ts",
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact deduplication with bounded state
    (``dropDuplicatesWithinWatermark``): emits the FIRST arrival of
    each distinct content key; re-deliveries and content duplicates
    arriving within the watermark horizon are suppressed, and key
    state older than the horizon is evicted.

    The horizon is the scale contract: plain streaming
    ``dropDuplicates`` keeps every key forever — at 10^12 docs that
    state OOMs any cluster — while the watermarked form holds
    O(keys per horizon) and delegates cross-horizon dedup to the batch
    path (:func:`ftidx.dedup.exact_dedup` over the landed table), the
    standard lambda split for exact dedup. The key is a computed
    expression (default content sha256, the reference's
    record-identity analog) so the stream never carries a second copy
    of the payload as its own join key."""
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    return (
        stream.withColumn("dedup_key", F.expr(key_expr))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["dedup_key"])
    )


def run_dedup_stream(spark: SparkSession, src_dir: str, checkpoint: str,
                     **kwargs) -> list:
    """One availableNow drain of :func:`dedup_stream`; returns the rows
    this run emitted (first-arrivals only). The checkpoint carries the
    dedup-key state and watermark across runs, so successive calls form
    one logical stream: a duplicate delivered in a LATER run (within
    the horizon) is still suppressed."""
    rows: list = []
    q = (
        dedup_stream(spark, src_dir, **kwargs)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _eid: rows.extend(df.collect()))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    wait_for_stream(q)
    q.awaitTermination(60)
    return rows


def trending_terms(spark: SparkSession, src_dir: str,
                   ts_col: str = "ts", text_col: str = "content",
                   window_len: str = "1 minute",
                   watermark: str = "2 minutes") -> DataFrame:
    """Per-window term counts over an arriving document stream — the
    streaming half of the trending-terms surface (batch twin:
    ``events_window_topn``). Tokenization is the same codegen'd
    lower/split/explode the indexer uses; counts are a watermarked
    event-time windowed agg in APPEND mode, so each (window, term) row
    emits exactly once when the watermark passes the window and closed
    windows drop their state — a backfill holds O(open windows ×
    live vocabulary) state, never O(history).

    The top-N cut happens downstream in :func:`run_trending_terms`:
    streaming aggregation cannot rank inside the same query (a rank
    over an unbounded stream is not incremental), but finalized rows
    per micro-batch are few, so the batch-side window is corpus-free."""
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    toks = (
        stream.select(
            ts_col,
            F.explode(F.split(F.lower(F.col(text_col)),
                              "[^a-z0-9_]+")).alias("term"))
        .filter(F.col("term") != "")
    )
    return (
        toks.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_len).alias("win"), "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"),
                F.col("win.end").alias("win_end"), "term", "n")
    )


def run_trending_terms(spark: SparkSession, src_dir: str,
                       checkpoint: str, top_n: int = 3,
                       **kwargs) -> list:
    """One availableNow drain of :func:`trending_terms`, returning the
    top-``top_n`` terms per window FINALIZED by this run, ranked
    (count DESC, term ASC). The rank runs inside foreachBatch over the
    newly-finalized rows only (append mode), checkpointed like
    :func:`run_windowed_counts` so successive calls form one logical
    stream."""
    from pyspark.sql import Window as W

    rows: list = []

    def rank_batch(df, _eid):
        w = W.partitionBy("win_start").orderBy(F.desc("n"), F.asc("term"))
        rows.extend(
            df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_n)
            .orderBy("win_start", "rank").collect())

    q = (
        trending_terms(spark, src_dir, **kwargs)
        .writeStream.outputMode("append")
        .foreachBatch(rank_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    wait_for_stream(q)
    q.awaitTermination(60)
    return rows


def session_counts(spark: SparkSession, src_dir: str,
                   ts_col: str = "ts", key_col: str = "repo",
                   gap: str = "5 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    """Event-time SESSION windows (``F.session_window`` — the
    streaming twin of the batch ``sessionize`` contract op): per-key
    activity sessions that close after ``gap`` of inactivity, emitted
    in append mode exactly once when the watermark passes a session's
    end (last event + gap). Output (sess_start, sess_end, key,
    n_events).

    Scale shape: session state is per OPEN session per key —
    watermarking closes and frees sessions, so a perpetual stream
    holds O(active keys) state, never O(history); adjacent sessions
    merge executor-side as events arrive (Spark's session-window
    state store does the merging — no custom stateful code needed
    where the built-in operator expresses the semantics)."""
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("win"),
                 F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("sess_start"),
                F.col("win.end").alias("sess_end"),
                F.col("key").alias(key_col), "n_events")
    )


def run_session_counts(spark: SparkSession, src_dir: str,
                       checkpoint: str, **kwargs) -> list:
    """One availableNow drain of :func:`session_counts` (the
    :func:`run_windowed_counts` discipline): returns the sessions THIS
    run finalized, exactly once each, checkpoint carrying watermark +
    open-session state across runs."""
    rows: list = []
    q = (
        session_counts(spark, src_dir, **kwargs)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _eid: rows.extend(df.collect()))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    wait_for_stream(q)
    q.awaitTermination(60)
    return rows
