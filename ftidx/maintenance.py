"""Index maintenance: compaction and incremental upsert.

Reference analogs: delete-by-id (Indexer.java:219-222 → S8), upsert by
unique key (solrClient.add replaces by id, Indexer.java:224-229 → S24/
Q9). The steady-state model is Lucene-like: queries anti-filter a
small tombstone set and union the streamed delta segments; one
compaction folds both into the base index through the per-bucket
segment merge, rewriting only the buckets the deltas and the deleted
docs live in.

Upsert = delete + reindex of the changed docs' buckets: because doc
ids are content-addressed ranks within a bucket, replacing a doc's
content re-ranks the bucket — so incremental upsert rebuilds the
affected buckets only (cheap: corpus/n_buckets docs each), reusing
build_index's resume machinery by clearing those buckets' ledger rows.
At 10^12-file scale this is the same partial-rebuild pattern an
Iceberg MERGE would drive.
"""

from __future__ import annotations

import json
import shutil
import uuid
from functools import partial, reduce
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftidx.index import _bucket_local_merge, read_doclen, write_stats
from ftidx.positions import _merge_positions
from ftidx.schema import (INDEX_TABLES, POSITIONS_SCHEMA, POSTINGS_SCHEMA,
                          batch_dirs, has_table, read_table)


def _require_version_2(path: Path, op: str) -> None:
    """Refuse an index whose manifest predates format version 2: its
    postings and deltas hold doclen and docs transport rows, which the
    merge kernel does not accept. An index with no manifest (streamed
    deltas only) is taken to be version 2."""
    man = path / "_manifest.json"
    version = json.loads(man.read_text()).get("version", 2) if man.exists() else 2
    if version < 2:
        raise ValueError(f"{op}: index format version {version} "
                         "predates version 2; rebuild the index")


def compact(spark: SparkSession, index_path: str) -> dict:
    """Fold streamed deltas and tombstones into the base index — the
    Lucene segment merge that drops deleted docs from disk.

    Affected buckets are the delta buckets plus the buckets of resolved
    tombstone ids. An id resolves through ``doclen`` ∪ ``delta_doclen``
    (a streamed hash id's high bits are not its bucket); ids that
    resolve nowhere stay in the tombstone table, so the query-time
    anti-filter keeps masking them. Each affected bucket makes one pass
    per table, the tables concurrently: base + delta postings meet that
    bucket's resolved ids in a cogroup (no tombstone array in any
    closure) and go through :func:`ftidx.index._bucket_local_merge`
    (positions: :func:`ftidx.positions._merge_positions`), which drops
    the ids; ``doclen`` becomes ``doclen`` ∪ ``delta_doclen`` minus the
    ids, one row per (doc_id, field); ``docs`` and ``stored`` drop the
    ids.

    Crash order: the bucket tables; stats; the folded epoch ids
    (``_folded_epochs.json``, read by ``topic_poll``); then the delta
    dirs; the tombstone table last. A rerun after a crash ends in the
    same state: the merges drop repeated docs, and the resolved ids are
    kept on disk (``_compact_idmap``) until the end, so ids whose
    doclen rows are already gone stay resolved. Were the tombstones
    replaced before the deltas were gone, a rerun would fold a deleted
    doc's delta rows back in. Scale shape: one shuffle of the affected
    buckets' rows, never O(corpus). Open ``FtIndex`` handles must
    ``refresh()`` (or reopen) afterwards."""
    path = Path(index_path)
    _require_version_2(path, "compact")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    tomb_dir = path / "tombstones"
    tombs = read_table(spark, path, "tombstones").distinct()
    idmap_dir = path / "_compact_idmap"
    resolution = _resolve_ids(spark, path, tombs, idmap_dir)
    id_bucket = resolution.filter(F.col("bucket").isNotNull())

    def per_bucket(df: DataFrame) -> dict[int | None, int]:
        # rows per bucket: bounded by n_buckets — safe to collect
        return {r["bucket"]: r["count"] for r in
                df.groupBy("bucket").count().collect()}

    # tombstoned ids per bucket; a null bucket counts the unresolved
    resolved = per_bucket(resolution)
    n_unresolved = resolved.pop(None, 0)
    segments = per_bucket(read_table(spark, path, "deltas"))
    buckets = sorted(resolved.keys() | segments.keys())
    if buckets:
        _merge_buckets(spark, path, buckets, id_bucket)
        write_stats(spark, path)
    _record_folded_epochs(path, idmap_dir)
    _drop_deltas(path)
    _replace_tombstones(tomb_dir, resolution.filter(F.col("bucket").isNull()),
                        n_unresolved)
    shutil.rmtree(idmap_dir, ignore_errors=True)
    return {"buckets_rewritten": buckets,
            "segments_folded": sum(segments.values()),
            "docs_removed": sum(resolved.values()), "unresolved": n_unresolved}


_FOLDED_EPOCHS = "_folded_epochs.json"


def fold_log(path: Path) -> list[set[int]]:
    """The streamed epoch ids each :func:`compact` folded into the
    base, one set per compaction, oldest first. An id may recur in a
    later set: once a compaction has removed an epoch's dirs, a tier
    merge or a restarted stream may use the id again."""
    f = path / _FOLDED_EPOCHS
    return [set(e["epochs"]) for e in json.loads(f.read_text())] \
        if f.exists() else []


def _record_folded_epochs(path: Path, idmap_dir: Path) -> None:
    """Append the epochs about to be folded to ``_folded_epochs.json``
    (next to the manifest) before their dirs are removed: a topic
    subscriber that never polled one of them must learn that its docs
    are now in the base (:func:`ftidx.topic.topic_poll`). The entry is
    staged in ``idmap_dir`` under a fresh key first, so a rerun after a
    crash appends it once, not twice."""
    staged = idmap_dir / "_folded.json"
    if not staged.exists():
        epochs = sorted(int(d.name.split("=", 1)[1])
                        for d in batch_dirs(path / "delta_doclen"))
        if not epochs:
            return
        _write_json(staged, {"key": uuid.uuid4().hex, "epochs": epochs})
    entry = json.loads(staged.read_text())
    log_path = path / _FOLDED_EPOCHS
    log = json.loads(log_path.read_text()) if log_path.exists() else []
    if entry["key"] not in {e["key"] for e in log}:
        _write_json(log_path, log + [entry])


def _write_json(target: Path, obj) -> None:
    """Write ``obj`` to ``target`` whole or not at all."""
    tmp = target.with_name(f".{target.name}.tmp")
    tmp.write_text(json.dumps(obj))
    tmp.replace(target)


def _resolve_ids(spark: SparkSession, path: Path, tombs: DataFrame,
                 idmap_dir: Path) -> DataFrame:
    """Every tombstoned id with the bucket it resolves to through
    ``doclen`` ∪ ``delta_doclen`` (null where it resolves nowhere). The
    resolved ids are materialised to ``idmap_dir`` BEFORE any table is
    rewritten: a lazy plan over doclen recomputed after its rewrite
    would no longer find the deleted ids. A complete map left by an
    interrupted run is reused for the same reason. Nothing about the
    tombstone set lands on the driver."""
    if not (idmap_dir / "_SUCCESS").exists():
        shutil.rmtree(idmap_dir, ignore_errors=True)
        read_doclen(spark, path, "doc_id", "bucket").join(tombs, "doc_id") \
            .distinct().write.parquet(str(idmap_dir))
    # joined from the tombstone side: ids no longer tombstoned (a rerun
    # after the table was replaced) are no longer deleted. Checkpointed,
    # as every later step reads it.
    return tombs.join(read_table(spark, path, "_compact_idmap"), "doc_id", "left") \
        .localCheckpoint()


def _merge_buckets(spark: SparkSession, path: Path, buckets: list[int],
                   id_bucket: DataFrame) -> None:
    """Rewrite ``buckets`` of every bucket table: base + delta rows
    through the merge kernels (doclen: deduplicated union) minus the
    ``id_bucket`` docs. The tables are rewritten concurrently; each
    rewrite is idempotent, so a crash may leave any subset of them
    written."""
    from concurrent.futures import ThreadPoolExecutor

    def postings() -> None:
        _overwrite_buckets(
            _fold([read_table(spark, path, "postings"),
                   read_table(spark, path, "deltas")],
                  buckets, id_bucket, _bucket_local_merge, POSTINGS_SCHEMA)
            .withColumn("n_bytes", F.octet_length("doc_ids")
                        + F.octet_length("tfs") + F.octet_length("dls")),
            path / "postings", buckets)

    def doclen() -> None:
        rows = read_doclen(spark, path, *INDEX_TABLES["doclen"].fieldNames()) \
            .filter(F.col("bucket").isin(buckets))
        _overwrite_buckets(
            _dedup_doclen(rows.join(id_bucket.select("doc_id"), "doc_id",
                                    "left_anti")),
            path / "doclen", buckets)

    def positions() -> None:
        _overwrite_buckets(
            _fold([read_table(spark, path, "positions"),
                   read_table(spark, path, "delta_positions")],
                  buckets, id_bucket, _merge_positions, POSITIONS_SCHEMA),
            path / "positions", buckets)

    def drop_ids(name: str) -> None:
        _overwrite_buckets(
            read_table(spark, path, name).filter(F.col("bucket").isin(buckets))
            .join(id_bucket.select("doc_id"), "doc_id", "left_anti"),
            path / name, buckets)

    jobs = [postings, doclen]
    # docs and stored are absent for streaming-only indexes
    jobs += [partial(drop_ids, t) for t in ("docs", "stored")
             if has_table(path, t)]
    if has_table(path, "positions") or has_table(path, "delta_positions"):
        jobs.append(positions)
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        for f in [ex.submit(job) for job in jobs]:
            f.result()


def _dedup_doclen(rows: DataFrame) -> DataFrame:
    """Doclen ``rows`` of base and/or delta segments, one per (doc_id,
    field): a redelivered doc repeats with the same length. One shuffle,
    by bucket, so a bucket's rows land in one file; a doc's bucket is
    fixed, so deduplicating on (bucket, doc_id, field) needs no second
    shuffle. Sorted as the build writes them, which keeps the files as
    small."""
    return rows.repartition("bucket") \
        .dropDuplicates(["bucket", "doc_id", "field"]) \
        .sortWithinPartitions("bucket", "field", "doc_id")


def _fold(frames: list[DataFrame], buckets: list[int],
          id_bucket: DataFrame, kernel, schema) -> DataFrame:
    """Base + delta rows of ``buckets`` cogrouped by bucket with that
    bucket's deleted ids, through one merge ``kernel``."""
    cols = [f.name for f in schema.fields]
    rows = reduce(DataFrame.unionByName, [
        df.select(cols).filter(F.col("bucket").isin(buckets))
        for df in frames])

    def merge(pdf: pd.DataFrame, ids: pd.DataFrame) -> pd.DataFrame:
        out = list(kernel([pdf], drop=ids["doc_id"].to_numpy()))
        return pd.concat(out, ignore_index=True) if out else \
            pd.DataFrame({c: pd.Series(dtype=object) for c in cols})

    return (rows.groupBy("bucket").cogroup(id_bucket.groupBy("bucket"))
            .applyInPandas(merge, schema=schema))


def _overwrite_buckets(df: DataFrame, table: Path, buckets: list[int]) -> None:
    """Write ``df`` over the ``buckets`` partitions of ``table``. Dynamic
    overwrite leaves a partition with no new rows untouched, so a
    bucket whose every doc was deleted keeps its old files — those are
    removed: a partition listing unchanged by the write got no rows."""
    def listing(b: int) -> set[str]:
        d = table / f"bucket={b}"
        return {p.name for p in d.iterdir()} if d.exists() else set()

    before = {b: listing(b) for b in buckets}
    df.write.mode("overwrite").partitionBy("bucket").parquet(str(table))
    for b, names in before.items():
        if names and listing(b) == names:
            shutil.rmtree(table / f"bucket={b}")


def _drop_deltas(path: Path) -> None:
    """Remove the folded delta tables; ``delta_doclen`` last — it is
    the streaming seen-set (see :func:`merge_delta_tier`)."""
    for d in ("deltas", "delta_positions", "delta_doclen"):
        shutil.rmtree(path / d, ignore_errors=True)


def _replace_tombstones(tomb_dir: Path, unresolved_df: DataFrame,
                        n_unresolved: int) -> None:
    """Replace the tombstone table with the unresolved subset. Written
    through Spark to a sibling dir, then swapped in — the unresolved
    set is unbounded in principle, so it never rides through the
    driver."""
    staged = tomb_dir.with_name(tomb_dir.name + "_staged")
    shutil.rmtree(staged, ignore_errors=True)
    if n_unresolved:
        unresolved_df.select("doc_id").write.parquet(str(staged))
    shutil.rmtree(tomb_dir, ignore_errors=True)
    if n_unresolved:
        staged.rename(tomb_dir)


def delete_by_query(
    spark: SparkSession,
    index_path: str,
    *,
    terms: list[str] | None = None,
    field: str = "code.content",
    where: str | None = None,
    match_all: bool = False,
) -> dict:
    """Predicate-driven delete — Solr ``deleteByQuery`` analog
    (IndexerIT.java:40 exercises ``deleteByQuery("*:*")``).

    Three query shapes, checked in order:

    - ``match_all=True`` (the ``*:*`` case): truncate the index — every
      table (:data:`INDEX_TABLES`) is removed; the manifest (bucket
      topology) survives so the next ``build_index`` call refills the
      same layout, mirroring Solr clearing a collection but keeping its
      schema.
    - ``terms``: tombstone every doc whose ``field`` contains ANY of
      the terms. Doc ids are resolved from the postings themselves with
      an executor-side decode (``mapInPandas`` over the term-filtered
      rows — parquet prunes on the pushed (field, term) predicate, and
      nothing is collected to the driver).
    - ``where``: a SQL predicate over the docs table's metadata columns
      (``repo, path, commit, lang, deleted, modified, content_sha256,
      bucket``) — e.g. ``"repo = 'octo/spark'"`` deletes a whole repo.

    Deletes land as tombstones (same side table as delete-by-id), so
    they are visible to queries immediately via the anti-filter and are
    folded into the postings by :func:`compact`. Open
    ``FtIndex`` handles must ``refresh()`` to see them.
    """
    path = Path(index_path)
    modes = sum([match_all, terms is not None, where is not None])
    if modes != 1:
        raise ValueError(
            "delete_by_query: give exactly one of match_all, terms, where")

    if match_all:
        n_docs = read_table(spark, path, "doclen").select("doc_id") \
            .distinct().count()
        for table in INDEX_TABLES:
            shutil.rmtree(path / table, ignore_errors=True)
        return {"mode": "match_all", "docs_deleted": n_docs}

    if terms is not None:
        if not terms:
            return {"mode": "terms", "docs_deleted": 0}
        qterms = sorted(set(terms))
        rows = read_table(spark, path, "postings").select("field", "term", "doc_ids") \
            .unionByName(read_table(spark, path, "deltas")
                         .select("field", "term", "doc_ids"))
        hit = rows.filter(
            (F.col("field") == field) & F.col("term").isin(qterms)
        ).select("doc_ids")

        def decode_ids(batches):
            from ftidx.codec import delta_decode, varint_decode

            for pdf in batches:
                for blob in pdf["doc_ids"]:
                    ids = delta_decode(varint_decode(blob)).astype(np.int64)
                    yield pd.DataFrame({"doc_id": ids})

        matched = hit.mapInPandas(decode_ids, schema="doc_id long").distinct()
    else:
        if not has_table(path, "docs"):
            raise ValueError(
                "delete_by_query(where=...) needs the docs table; this "
                "index has none (streaming-only) — delete by terms or id")
        matched = read_table(spark, path, "docs").filter(where) \
            .select("doc_id").distinct()

    matched = matched.cache()
    n = matched.count()
    if n:
        matched.write.mode("append").parquet(str(path / "tombstones"))
    matched.unpersist()
    return {"mode": "terms" if terms is not None else "where",
            "docs_deleted": n}


def upsert(spark: SparkSession, index_path: str, new_source: DataFrame,
           **build_kwargs) -> dict:
    """Re-index the buckets touched by changed/new docs.

    ``new_source`` is the full updated source table (input_hint schema);
    change detection is by content_sha256 against the stored docs table
    (the per-row invariant makes this a cheap join), then the affected
    buckets' ledger rows are cleared and build_index resumes over them.
    """
    from ftidx.build import prepare_docs
    from ftidx.index import build_index

    import json

    path = Path(index_path)
    n_buckets = json.loads((path / "_manifest.json").read_text())["n_buckets"]
    old = read_table(spark, path, "docs").select(
        "repo", "path",
        F.col("content_sha256").alias("old_sha"),
        F.col("deleted").alias("old_deleted"),
        F.col("bucket").alias("old_bucket"),
    )
    new = prepare_docs(new_source, n_buckets).select(
        "repo", "path",
        F.col("content_sha256").alias("new_sha"),
        F.col("deleted").alias("new_deleted"),
        F.col("bucket").alias("new_bucket"),
    )
    # full outer: adds, removes, and edits all mark their bucket(s) dirty
    # (a content edit changes `commit` → the doc may hop buckets, so
    # both the old and new bucket are rebuilt)
    j = old.join(new, ["repo", "path"], "full")
    diff = j.filter(
        F.col("old_sha").isNull()
        | F.col("new_sha").isNull()
        | (F.col("new_sha") != F.col("old_sha"))
        | (F.col("new_deleted") != F.col("old_deleted"))
    )
    dirty = sorted(
        int(r["b"])
        for r in diff.select(
            F.explode(F.array_compact(F.array("old_bucket", "new_bucket"))).alias("b")
        ).distinct().collect()
    )
    if not dirty:
        return {"buckets_rebuilt": [], "skipped": "no changes"}

    has_positions = has_table(path, "positions")
    has_stored = has_table(path, "stored")
    # the stem analyzer is a manifest property, not an on-disk dir —
    # rebuilt buckets must keep emitting code.content.stem or the
    # stemmed field would silently go partial
    man = json.loads((path / "_manifest.json").read_text())
    has_stem = bool(man.get("stem_field", False))
    has_shingle = bool(man.get("shingle_field", False))
    _clear_bucket_partitions(path, dirty)
    _clear_ledger_rows(spark, path, dirty)
    summary = build_index(spark, new_source, str(path), n_buckets=n_buckets,
                          resume=True, positions=has_positions,
                          store_content=has_stored, stem_field=has_stem,
                          shingle_field=has_shingle,
                          **build_kwargs)
    return {"buckets_rebuilt": summary["built"], "skipped": summary["skipped"]}


def _clear_bucket_partitions(path: Path, dirty: list[int]) -> None:
    """Drop dirty partitions up front: dynamic overwrite only replaces
    partitions present in the NEW output, so a bucket that becomes
    empty (or unstored) must not leave stale files behind. ``stored``
    is included — a rebuilt bucket's text must never lag its postings
    (highlighting would serve pre-update content)."""
    for b in dirty:
        for sub in ("postings", "doclen", "docs", "positions", "stored"):
            shutil.rmtree(path / sub / f"bucket={b}", ignore_errors=True)


def _clear_ledger_rows(spark: SparkSession, path: Path, dirty: list[int]) -> None:
    """Remove the dirty buckets' ledger rows → build_index's resume
    path sees them as pending and rebuilds exactly those."""
    ledger_dir = path / "ledger"
    led = read_table(spark, path, "ledger")
    kept = led.filter(~F.col("bucket").isin(dirty)).collect()
    shutil.rmtree(ledger_dir)
    if kept:
        spark.createDataFrame(kept, led.schema).write.parquet(str(ledger_dir))


_SOURCE_COLS = ["repo", "path", "commit", "lang", "content", "deleted",
                "modified"]


def upsert_docs(spark: SparkSession, index_path: str,
                partial_source: DataFrame, **build_kwargs) -> dict:
    """Partial add-or-replace by unique key — Solr ``/update``
    semantics: every (repo, path) in ``partial_source`` is added or
    replaced; every doc NOT mentioned is left untouched. Contrast
    :func:`upsert`, whose input is the FULL source state and whose
    absences therefore mean deletion (state-sync semantics).

    Requires an index built with ``store_content=True`` — Solr's own
    constraint (partial updates need every field stored), because
    rebuilding a bucket re-tokenizes EVERY doc in it and the unchanged
    bucket-mates' text must come from the stored table, not from a
    caller re-shipping the corpus.

    Scale shape: O(affected buckets) end-to-end. One broadcast key
    join against the (bucket-partitioned, column-pruned) docs table
    resolves old buckets; ``prepare_docs`` over just the partial rows
    resolves new buckets; only those buckets' docs/stored partitions
    are read back to reconstruct bucket-mates; the rebuild runs
    through ``build_index``'s resume path over exactly those buckets.
    The corpus is never rescanned. Bucket membership and within-bucket
    ranks are pure functions of (key set, content), so the result is
    bit-identical to a fresh build over the edited full source — the
    same invariant :func:`upsert` pins.

    Refuses while streamed delta segments exist (a bucket rebuild
    re-ranks doc_ids; delta rows referencing them would dangle) — run
    :func:`compact` first.
    """
    from ftidx.build import prepare_docs
    from ftidx.index import build_index

    path = Path(index_path)
    n_buckets = json.loads((path / "_manifest.json").read_text())["n_buckets"]
    if not has_table(path, "stored"):
        raise ValueError(
            "upsert_docs needs an index built with store_content=True "
            "(Solr parity: partial updates reconstruct docs from stored "
            "fields); rebuild with store_content=True or use "
            "ftidx.maintenance.upsert with the full source table")
    if has_table(path, "deltas"):
        raise ValueError(
            f"upsert_docs: streamed deltas exist under {path / 'deltas'}; "
            "run compact first (a bucket rebuild re-ranks doc_ids)")

    new_rows = partial_source.select(*_SOURCE_COLS)
    keys = new_rows.select("repo", "path").distinct()
    docs = read_table(spark, path, "docs")
    # no forced broadcast: a point update's key set is tiny (AQE
    # broadcasts it automatically), but a BULK partial update may not
    # fit the driver — let the planner decide
    old_b = (docs.join(keys, ["repo", "path"])
             .select(F.col("bucket").alias("b")))
    new_b = prepare_docs(new_rows, n_buckets).select(F.col("bucket").alias("b"))
    dirty = sorted(int(r["b"]) for r in old_b.union(new_b).distinct().collect())
    if not dirty:
        return {"buckets_rebuilt": [], "skipped": "no docs"}

    # reconstruct source rows for every doc currently in a dirty
    # bucket (minus the keys being replaced): metadata from docs,
    # text from stored — both scans bucket-pruned
    in_dirty = docs.filter(F.col("bucket").isin(dirty))
    stored = (read_table(spark, path, "stored")
              .filter(F.col("bucket").isin(dirty))
              .select("doc_id", "content"))
    mates = in_dirty.join(keys, ["repo", "path"], "left_anti")
    # refuse to silently turn a doc with text into a metadata-only
    # doc: every live bucket-mate that HAD content must have it stored
    missing = (mates.filter((~F.col("deleted"))
                            & F.col("content_sha256").isNotNull())
               .join(stored, "doc_id", "left_anti").count())
    if missing:
        raise ValueError(
            f"upsert_docs: {missing} doc(s) in the affected buckets have "
            "content but no stored text (streamed in without "
            "store_content?); compact/rebuild before partial updates")
    recon = (mates.drop("content")
             .join(stored, "doc_id", "left")
             .select(*_SOURCE_COLS))
    # materialize BEFORE clearing the dirty partitions: the lazy plan
    # reads the very docs/stored files the rebuild overwrites (the
    # lazy-recompute failure update_fields documents) — localCheckpoint
    # pins the bucket-sized merged set off the source files
    merged = new_rows.unionByName(recon).localCheckpoint(eager=True)

    has_positions = has_table(path, "positions")
    _clear_bucket_partitions(path, dirty)
    _clear_ledger_rows(spark, path, dirty)
    summary = build_index(spark, merged, str(path), n_buckets=n_buckets,
                          resume=True, positions=has_positions,
                          store_content=True, **build_kwargs)
    return {"buckets_rebuilt": summary["built"], "skipped": summary["skipped"]}


def atomic_update(spark: SparkSession, index_path: str,
                  ops: dict[int, dict[str, dict]], **build_kwargs) -> dict:
    """Solr atomic update: per-doc field MODIFIERS applied server-side
    — the caller never re-ships the document. ``ops`` maps doc_id →
    {field: {"set": value}}; each doc is reconstructed from the docs
    table + stored text (Solr's real-time-get-then-reindex mechanics),
    the modifiers applied, and the result pushed through
    :func:`upsert_docs` (only the affected buckets rebuild; setting
    ``content`` re-tokenizes — exactly Solr re-indexing an atomic
    update of an indexed field).

    Allowed fields: any source column except the uniqueKey components
    ``repo``/``path`` (Solr parity: the uniqueKey cannot be atomically
    modified — that's a different document). ``{"set": True}`` on
    ``deleted`` tombstones the doc through the normal routing.
    Modifier ops other than ``set`` raise: ``inc`` needs a numeric
    field and ``add``/``remove`` need a multivalued field, and the
    source schema (input_hint) has neither.

    The op set is page-shaped (Solr atomic updates arrive as point
    requests), so modifier application is driver-side over one
    bucket-pruned fetch; the rebuild is upsert_docs' O(affected
    buckets) path.
    """
    if not ops:
        return {"updated": 0, "buckets_rebuilt": []}
    for did, fields in ops.items():
        for field, mod in fields.items():
            if field in ("repo", "path"):
                raise ValueError(
                    f"doc {did}: uniqueKey component '{field}' cannot be "
                    "atomically updated (Solr parity) — add the new key "
                    "and delete the old")
            if field not in _SOURCE_COLS:
                raise ValueError(f"doc {did}: unknown field '{field}'")
            if not isinstance(mod, dict) or len(mod) != 1:
                raise ValueError(
                    f"doc {did}.{field}: modifier must be a single-op "
                    "dict like {'set': value}")
            op = next(iter(mod))
            if op != "set":
                raise ValueError(
                    f"doc {did}.{field}: unsupported modifier '{op}' — "
                    "'inc' needs a numeric field and 'add'/'remove' a "
                    "multivalued field; the source schema has neither")

    path = Path(index_path)
    if not has_table(path, "stored"):
        raise ValueError(
            "atomic_update needs an index built with store_content=True "
            "(Solr parity: atomic updates reconstruct from stored fields)")
    ids = [int(d) for d in ops]
    docs = read_table(spark, path, "docs")
    id_rows = docs.filter(F.col("doc_id").isin(ids))
    buckets = sorted(int(r["bucket"]) for r in
                     id_rows.select("bucket").distinct().collect())
    stored = (read_table(spark, path, "stored")
              .filter(F.col("bucket").isin(buckets))
              .select("doc_id", "content"))
    current = {r["doc_id"]: r.asDict() for r in
               id_rows.drop("content", "bucket")
               .join(stored, "doc_id", "left").collect()}
    unknown = [d for d in ids if d not in current]
    if unknown:
        raise ValueError(f"atomic_update: unknown doc_id(s) {unknown}")

    updated = []
    for did, fields in ops.items():
        row = current[int(did)]
        for field, mod in fields.items():
            row[field] = mod["set"]
        updated.append(tuple(row[c] for c in _SOURCE_COLS))
    from ftidx.schema import SOURCE_SCHEMA

    partial = spark.createDataFrame(updated, SOURCE_SCHEMA)
    res = upsert_docs(spark, index_path, partial, **build_kwargs)
    return {"updated": len(updated), **res}


# Columns a doc can change WITHOUT touching postings: stored-only,
# never tokenized (tokenize.py indexes content + repo/path/lang/commit
# derived fields). Everything else must re-index via `upsert` — the
# same split Solr makes internally: atomic update of an indexed field
# re-indexes the whole document from stored fields.
STORED_ONLY_COLS = frozenset({"modified"})


def update_fields(spark: SparkSession, index_path: str,
                  updates: dict[int, dict]) -> dict:
    """Atomic partial document update (Solr atomic update, stored-only
    fast path): set metadata columns for specific doc ids by rewriting
    ONLY the docs-table partitions of the affected buckets — postings,
    doclen and positions untouched, so query results and scores are
    bitwise unchanged.

    ``updates`` maps doc_id → {column: new_value}; every entry must use
    the same column set (one join plan), and every column must be in
    ``STORED_ONLY_COLS`` — an indexed column raises with the pointer to
    :func:`upsert`, which is the re-index path.

    Scale shape: the update set broadcast-joins against only the
    affected buckets' docs partitions (partition-pruned scan); merged
    rows are STAGED to a sibling directory first and the live
    partitions swapped per-bucket afterwards — the read plan is never
    live while its own input is overwritten (the lazy-recompute
    failure), and a crash between swaps leaves each bucket wholly old
    or wholly new, never mixed. O(affected buckets), never O(corpus).
    Open handles must ``refresh()``.
    """
    if not updates:
        return {"updated": 0, "buckets": []}
    cols = None
    for did, kv in updates.items():
        if cols is None:
            cols = sorted(kv)
        elif sorted(kv) != cols:
            raise ValueError("all updates must set the same column set")
        if any(v is None for v in kv.values()):
            raise ValueError("None values not supported (delete the "
                             "column from the dict instead)")
    bad = [c for c in cols if c not in STORED_ONLY_COLS]
    if bad:
        raise ValueError(
            f"column(s) {bad} are indexed (tokenized into postings); "
            "in-place update would desync the index — use "
            "ftidx.maintenance.upsert to re-index those docs")

    path = Path(index_path)
    docs_dir = path / "docs"
    all_docs = read_table(spark, path, "docs")
    upd_rows = [(int(d), *[kv[c] for c in cols]) for d, kv in updates.items()]
    upd_schema = ", ".join(
        ["doc_id long"] + [f"_new_{i} " + ({
            "modified": "timestamp"}.get(c, "string")) for i, c in
            enumerate(cols)])
    upd = spark.createDataFrame(upd_rows, upd_schema)

    buckets = sorted(
        int(r["bucket"]) for r in
        all_docs.join(F.broadcast(upd), "doc_id")
        .select("bucket").distinct().collect()
    )
    if not buckets:
        return {"updated": 0, "buckets": []}

    part = all_docs.filter(F.col("bucket").isin(buckets))
    merged = part.join(F.broadcast(upd), "doc_id", "left")
    for i, c in enumerate(cols):
        merged = merged.withColumn(
            c, F.coalesce(F.col(f"_new_{i}"), F.col(c)))
    merged = merged.select(*all_docs.columns)

    tmp = path / "docs_upd_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    merged.write.partitionBy("bucket").parquet(str(tmp))
    n = 0
    for b in buckets:
        src, dst = tmp / f"bucket={b}", docs_dir / f"bucket={b}"
        shutil.rmtree(dst, ignore_errors=True)
        src.rename(dst)
        n += 1
    shutil.rmtree(tmp, ignore_errors=True)
    return {"updated": len(upd_rows), "buckets": buckets}


def snapshot(index_path: str, backup_dir: str) -> dict:
    """Index backup (Solr ReplicationHandler ``command=backup``): copy
    a CONSISTENT point-in-time image of the index into ``backup_dir``.

    Consistency comes from the engine's immutability discipline, not
    from locking: a built index dir is only ever changed by (a)
    dynamic-partition-overwrite rewrites (compaction/upsert) and (b)
    delta/tombstone appends. The FULL file listing (paths + sizes) is
    captured first, only listed files are copied, and the listing plus
    the manifest are verified unchanged LAST — a rewrite moves the
    build_id, an append adds files (the engine never mutates a written
    file in place), and either makes the snapshot refuse with the dst
    removed (retry semantics). A backup is therefore always one whole
    generation, never a mix. Refuses a half-built source
    (``status != done``). Returns {files, bytes, build_id}.

    At 10^12 files this exact routine runs as a distcp/object-store
    copy job with the same list-first/verify-last book-ends; the
    invariant this encodes (snapshot = one immutable generation) is
    what makes restore trivially correct."""
    src = Path(index_path)
    man_path = src / "_manifest.json"
    if not man_path.exists():
        raise FileNotFoundError(f"{src}: no _manifest.json")
    manifest = json.loads(man_path.read_text())
    if manifest.get("status") != "done":
        raise ValueError(
            f"refusing to snapshot {src}: build status is "
            f"{manifest.get('status')!r}, not 'done'")
    dst = Path(backup_dir)
    if dst.exists() and any(dst.iterdir()):
        raise ValueError(f"backup dir {dst} exists and is not empty")
    dst.mkdir(parents=True, exist_ok=True)

    def listing() -> dict[str, int]:
        return {
            str(p.relative_to(src)): (p.stat().st_size if p.is_file()
                                      else -1)
            for p in sorted(src.rglob("*"))
        }

    before = listing()
    n_files = 0
    n_bytes = 0
    (dst / "_manifest.json").write_text(json.dumps(manifest))
    for rel in before:
        if rel == "_manifest.json":
            continue
        p = src / rel
        q = dst / rel
        if before[rel] < 0:  # directory
            q.mkdir(parents=True, exist_ok=True)
            continue
        q.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy2(p, q)
        n_files += 1
        n_bytes += before[rel]
    after_man = json.loads(man_path.read_text())
    if after_man != manifest or listing() != before:
        shutil.rmtree(dst)
        raise RuntimeError(
            f"index {src} changed during snapshot (rewrite, or a "
            "delta/tombstone append landed mid-copy); retry in a quiet "
            "window or snapshot a published alias generation")
    return {"files": n_files, "bytes": n_bytes,
            "build_id": manifest.get("build_id")}


def restore(backup_dir: str, index_path: str, *,
            alias_path: str | None = None) -> str:
    """Restore a snapshot (Solr ``command=restore``): materialize the
    backup as a NEW index directory and, if ``alias_path`` is given,
    atomically retarget the alias at it (ftidx.alias.publish) — the
    restore never mutates a directory a reader might hold open; the
    old generation stays intact for handles bound to it. Returns the
    restored index path."""
    src = Path(backup_dir)
    if not (src / "_manifest.json").exists():
        raise FileNotFoundError(f"{src}: not a snapshot (no manifest)")
    dst = Path(index_path)
    if dst.exists():
        raise ValueError(
            f"restore target {dst} exists — restore creates a fresh "
            "generation; publish it over an alias instead of "
            "overwriting a served dir")
    shutil.copytree(src, dst)
    if alias_path is not None:
        from ftidx.alias import publish

        publish(alias_path, dst)
    return str(dst)


# ---------------------------------------------------------------------------
# shard lifecycle: SPLITSHARD / MERGEINDEXES
# ---------------------------------------------------------------------------

_BUCKET_TABLES = ("postings", "docs", "doclen", "positions", "stored")


def _live_buckets(path: Path) -> list[int]:
    """Bucket ordinals present on disk (from the docs table's hive
    partition dirs — the one table every index generation has)."""
    docs = path / "docs"
    if not docs.exists():
        return []
    return sorted(int(d.name.split("=", 1)[1]) for d in docs.iterdir()
                  if d.is_dir() and d.name.startswith("bucket="))


def _require_compacted(path: Path, op: str) -> dict:
    man_path = path / "_manifest.json"
    if not man_path.exists():
        raise FileNotFoundError(f"{path}: no _manifest.json")
    manifest = json.loads(man_path.read_text())
    if manifest.get("status") != "done":
        raise ValueError(f"{op}: {path} build status is "
                         f"{manifest.get('status')!r}, not 'done'")
    for d in ("deltas", "delta_doclen", "delta_positions"):
        if has_table(path, d):
            raise ValueError(
                f"{op}: {path} has uncompacted streamed deltas under "
                f"{d}/ — run maintenance.compact first (bucket "
                "ownership must be settled before shards move)")
    return manifest


def split_index(spark: SparkSession, index_path: str,
                out_paths: list[str]) -> dict:
    """Split one index into ``len(out_paths)`` child shards (Solr
    SPLITSHARD): child ``i`` owns every bucket with
    ``bucket % n_children == i`` — the hash-range split, since the
    bucket ordinal IS the corpus hash range unit
    (``pmod(xxhash64(repo,path,commit), n_buckets)``).

    doc_ids embed their bucket (``bucket << 40 | rank``), so moving
    whole buckets preserves every doc_id verbatim: no re-ranking, no
    rewrite — the split is a file-level move of the bucket partitions
    of postings/docs/doclen (+ positions/stored when present), plus a
    bucket-filtered copy of tombstones and ledger and a per-child
    stats recompute. Children keep the parent's ``n_buckets``
    (the global bucket universe): post-split writes route to the child
    owning ``bucket % n_children``, exactly SolrCloud's hash-range
    router. Query the children as one via :class:`ftidx.shards
    .FtShards` — global-stats scoring makes the ranking
    layout-invariant (pinned by test: split shards == parent,
    score-identical).

    Refuses uncompacted deltas (bucket ownership must be settled) and
    more children than live buckets (a shard with no corpus is a
    config error, not a degenerate index). At 10^12 files this is an
    object-store server-side copy per bucket partition — no data plane
    job at all except the grid-sized stats agg per child."""
    src = Path(index_path)
    manifest = _require_compacted(src, "split_index")
    n_children = len(out_paths)
    if n_children < 2:
        raise ValueError("split_index needs at least 2 out_paths")
    buckets = _live_buckets(src)
    owned = {i: [b for b in buckets if b % n_children == i]
             for i in range(n_children)}
    empty = [i for i in range(n_children) if not owned[i]]
    if empty:
        # checked BEFORE anything is written: sparse live-bucket sets
        # (or more children than buckets) can leave a child with no
        # corpus under the modulo assignment — a shard with no buckets
        # is a config error, not a degenerate index
        raise ValueError(
            f"split_index: child(ren) {empty} would own no bucket — "
            f"{n_children} children over live buckets {buckets}; "
            "every child must own at least one")
    for p in out_paths:
        d = Path(p)
        if d.exists() and any(d.iterdir()):
            raise ValueError(f"split_index: out path {d} is not empty")
    for i, p in enumerate(out_paths):
        child = Path(p)
        child.mkdir(parents=True, exist_ok=True)
        for kind in _BUCKET_TABLES:
            src_kind = src / kind
            if not src_kind.exists():
                continue
            for b in owned[i]:
                part = src_kind / f"bucket={b}"
                if part.exists():
                    shutil.copytree(part, child / kind / f"bucket={b}")
        # tombstones (doc_id >> 40 names the owning bucket) and ledger:
        # the child's subset is one pushdown-able filter over a small
        # table, written whenever the source has one (possibly 0 rows)
        for table, bucket in (
                ("tombstones", F.shiftright(F.col("doc_id"), 40)),
                ("ledger", F.col("bucket"))):
            if has_table(src, table):
                read_table(spark, src, table) \
                    .filter(F.pmod(bucket, F.lit(n_children)) == i) \
                    .write.parquet(str(child / table))
        write_stats(spark, child)
        (child / "_manifest.json").write_text(json.dumps({
            **{k: v for k, v in manifest.items() if k != "status"},
            "status": "done",
            "build_id": f"{manifest.get('build_id')}-s{i}",
            "split_from": manifest.get("build_id"),
            "n_shards": n_children,
            "shard_ordinal": i,
        }))
    return {"n_children": n_children,
            "buckets": {i: owned[i] for i in range(n_children)}}


def merge_indexes(spark: SparkSession, paths: list[str],
                  out_path: str) -> dict:
    """Merge shards with DISJOINT bucket sets into one index (Solr
    CoreAdmin MERGEINDEXES / Lucene ``addIndexes``): the exact inverse
    of :func:`split_index`, and like Lucene's, correct only when the
    caller guarantees id-uniqueness — here that is checkable, so it IS
    checked: doc_ids embed their bucket, hence disjoint bucket sets ⇔
    disjoint doc_id spaces, and overlap refuses with the honest
    redirect (overlapping corpora are an upsert/rebuild, not a merge).

    File-level union of every bucket partition, ledger/tombstone
    concatenation, one stats recompute over the merged doclen — the
    same "indistinguishable from a fresh build" discipline as split
    (pinned by test: split → merge round-trips to query-identical).
    Children must share ``n_buckets`` (one bucket universe) and be
    delta-compacted."""
    if len(paths) < 2:
        raise ValueError("merge_indexes needs at least 2 source paths")
    manifests = [_require_compacted(Path(p), "merge_indexes") for p in paths]
    n_buckets = {m.get("n_buckets") for m in manifests}
    if len(n_buckets) != 1:
        raise ValueError(
            f"merge_indexes: sources disagree on n_buckets ({n_buckets}) "
            "— shards must share one bucket universe")
    per = [_live_buckets(Path(p)) for p in paths]
    seen: dict[int, str] = {}
    for p, bs in zip(paths, per):
        for b in bs:
            if b in seen:
                raise ValueError(
                    f"merge_indexes: bucket {b} exists in both {seen[b]} "
                    f"and {p} — overlapping doc_id spaces; merge is for "
                    "disjoint shards (split_index children). For "
                    "overlapping corpora use maintenance.upsert / a "
                    "fresh build")
            seen[b] = p
    dst = Path(out_path)
    if dst.exists() and any(dst.iterdir()):
        raise ValueError(f"merge_indexes: out path {dst} is not empty")
    dst.mkdir(parents=True, exist_ok=True)

    for p, bs in zip(paths, per):
        src = Path(p)
        for kind in _BUCKET_TABLES:
            if not (src / kind).exists():
                continue
            for b in bs:
                part = src / kind / f"bucket={b}"
                if part.exists():
                    shutil.copytree(part, dst / kind / f"bucket={b}")
    for table in ("tombstones", "ledger"):
        frames = [read_table(spark, p, table) for p in paths
                  if has_table(p, table)]
        if frames:
            reduce(DataFrame.unionByName, frames).write.parquet(
                str(dst / table))
    write_stats(spark, dst)
    (dst / "_manifest.json").write_text(json.dumps({
        **{k: v for k, v in manifests[0].items()
           if k not in ("status", "shard_ordinal", "n_shards",
                        "split_from")},
        "status": "done",
        "build_id": "+".join(m.get("build_id", "?") for m in manifests),
        "merged_from": [m.get("build_id") for m in manifests],
    }))
    return {"n_sources": len(paths),
            "n_buckets_moved": sum(len(bs) for bs in per)}


def merge_delta_tier(spark: SparkSession, index_path: str,
                     max_batches: int = 8) -> dict:
    """Tiered delta-segment merging (the Lucene TieredMergePolicy idea
    applied to the streamed ``deltas/batch=*`` layout): when the
    number of delta batch dirs exceeds ``max_batches``, fold the
    SMALLEST ones (by on-disk bytes) into a single merged batch —
    WITHOUT touching the base index. :func:`compact` is the
    base-rewrite "forceMerge": it costs O(every bucket the deltas
    touch) and rewrites base partitions; this policy is the cheap
    amortizer between compactions, O(merged deltas) only. Continuous
    streaming then holds query-side read amplification at
    ``max_batches`` segment unions instead of one per micro-batch
    forever, and repeated tier merges stay cheap because each merge
    removes the smallest tier (small batches pay, big merged batches
    are left alone — Lucene's geometric-tier invariant).

    Merged output: one ``batch=<id>`` dir per delta family (postings
    via the per-bucket segment merge
    :func:`ftidx.index._bucket_local_merge` → ONE segment per (field,
    term, bucket); doclen as the victims' ``delta_doclen`` rows, one
    per (doc_id, field); positions via
    :func:`ftidx.positions._merge_positions`), with ``<id>`` allocated
    from a reserved range (≥ 10^9) so a crashed stream
    replaying a real epoch id can never overwrite a merged tier.
    Victim dirs are removed only after every merged family is
    written, postings first and doclen LAST — the at-least-once
    seen-set (index_microbatch's anti-join) reads delta_doclen, so a
    crash mid-removal can only leave duplicate rows (which the
    content-addressed doc-id dedup in every reader and in
    :func:`compact` already absorbs), never lose ids from the
    seen-set. Open FtIndex handles refresh() as after compaction."""
    if max_batches < 1:
        raise ValueError(f"max_batches must be >= 1, got {max_batches}")
    path = Path(index_path)
    _require_version_2(path, "merge_delta_tier")
    deltas = path / "deltas"
    dirs = batch_dirs(deltas)
    if len(dirs) <= max_batches:
        return {"merged": [], "into": None, "n_batches": len(dirs)}

    def _bytes(d: Path) -> int:
        return sum(f.stat().st_size for f in d.rglob("*") if f.is_file())

    sized = sorted((_bytes(d), d.name) for d in dirs)
    n_merge = len(dirs) - max_batches + 1
    victims = [name for _, name in sized[:n_merge]]
    ids = [int(d.name.split("=", 1)[1]) for d in dirs]
    merged_id = max([i for i in ids if i >= 10 ** 9], default=10 ** 9 - 1) + 1

    def victim_rows(table: str) -> DataFrame:
        schema = INDEX_TABLES[table]
        return read_table(spark, path, table).filter(
            F.col("batch").isin([int(v.split("=", 1)[1]) for v in victims])
        ).select(schema.fieldNames()[:-1])  # the batch column dropped

    merged = f"batch={merged_id}"
    (victim_rows("deltas").repartition("bucket")
     .mapInPandas(_bucket_local_merge, schema=POSTINGS_SCHEMA)
     .write.mode("overwrite").parquet(str(deltas / merged)))
    ddl = path / "delta_doclen"
    _dedup_doclen(victim_rows("delta_doclen")) \
        .write.mode("overwrite").parquet(str(ddl / merged))
    dpos = path / "delta_positions"
    if any((dpos / v).exists() for v in victims):
        (victim_rows("delta_positions").repartition("bucket")
         .mapInPandas(_merge_positions, schema=POSITIONS_SCHEMA)
         .write.mode("overwrite").parquet(str(dpos / merged)))
    # removal order: postings / positions victims first, doclen last
    for fam in (deltas, dpos, ddl):
        for v in victims:
            shutil.rmtree(fam / v, ignore_errors=True)
    return {"merged": victims, "into": f"batch={merged_id}",
            "n_batches": max_batches}


def rebalance_shards(spark: SparkSession, paths: list[str], *,
                     plan: dict[int, int] | None = None) -> dict:
    """Move whole bucket partitions between sibling shards (the
    SolrCloud Collections-API MIGRATE role: re-assigning hash-range
    units across shards without touching doc bytes). ``plan`` maps
    bucket ordinal → destination shard ordinal; ``plan=None`` computes
    the deterministic even-out plan (repeatedly move the smallest
    bucket id from the fullest shard to the emptiest until bucket
    counts differ by at most 1 — ties to the smallest shard ordinal).

    Like split/merge, a move is a FILE-LEVEL copy of the bucket's
    partitions (doc_ids embed their bucket, so they survive verbatim;
    at 10^12 files this is an object-store server-side copy, no data
    plane job) with crash-safe ordering: copy to a temp dir, atomic
    rename into the destination, delete the source copy LAST — a
    re-run after a crash completes the interrupted move (the
    destination copy is replaced wholesale, never merged). Tombstone
    and ledger rows re-route to each bucket's FINAL owner (rows whose
    bucket no shard owns — unresolved streamed ids — stay where they
    are); per-shard stats recompute afterwards, so every shard remains
    indistinguishable from a fresh build over its slice.

    After an arbitrary rebalance the ``bucket % n_children`` routing
    rule from split_index no longer holds, so every manifest records
    the explicit final ``owned_buckets`` list and ``router:
    "explicit"`` — exactly SolrCloud's move from compositeId ranges to
    explicitly-assigned ranges after MIGRATE. Pinned by test:
    FtShards over the rebalanced layout is rank- and score-identical
    to the pre-move layout (results are a pure function of the data,
    never the layout)."""
    shards = [Path(p) for p in paths]
    if len(shards) < 2:
        raise ValueError("rebalance_shards needs at least 2 shards")
    manifests = [_require_compacted(s, "rebalance_shards") for s in shards]
    if len({m.get("n_buckets") for m in manifests}) != 1:
        raise ValueError("rebalance_shards: shards disagree on n_buckets "
                         "— not one bucket universe")
    owned = [set(_live_buckets(s)) for s in shards]
    owner: dict[int, int] = {}
    for i, bs in enumerate(owned):
        for b in bs:
            if b in owner:
                raise ValueError(
                    f"rebalance_shards: bucket {b} exists in both "
                    f"{shards[owner[b]]} and {shards[i]} — overlapping "
                    "shards cannot be rebalanced (an interrupted move? "
                    "the destination copy is authoritative: remove the "
                    "source's partition and retry)")
            owner[b] = i

    counts_before = [len(bs) for bs in owned]
    if plan is None:
        plan = {}
        work = [set(bs) for bs in owned]
        while True:
            sizes = [len(w) for w in work]
            hi = sizes.index(max(sizes))
            lo = sizes.index(min(sizes))
            if sizes[hi] - sizes[lo] <= 1:
                break
            b = min(work[hi])
            work[hi].remove(b)
            work[lo].add(b)
            plan[b] = lo
    for b, dest in plan.items():
        if b not in owner:
            raise ValueError(f"rebalance_shards: bucket {b} not owned by "
                             "any shard")
        if not (0 <= dest < len(shards)):
            raise ValueError(f"rebalance_shards: destination ordinal "
                             f"{dest} out of range")
        if owner[b] == dest:
            raise ValueError(f"rebalance_shards: bucket {b} already lives "
                             f"on shard {dest}")

    moves = {}
    for b, dest in sorted(plan.items()):
        src = shards[owner[b]]
        dst = shards[dest]
        for kind in _BUCKET_TABLES:
            part = src / kind / f"bucket={b}"
            if not part.exists():
                continue
            target = dst / kind / f"bucket={b}"
            if target.exists():          # interrupted-move leftover
                shutil.rmtree(target)
            tmp = dst / kind / f".bucket={b}.tmp"
            if tmp.exists():
                shutil.rmtree(tmp)
            target.parent.mkdir(parents=True, exist_ok=True)
            shutil.copytree(part, tmp)
            tmp.rename(target)
        for kind in _BUCKET_TABLES:      # source removal LAST
            part = src / kind / f"bucket={b}"
            if part.exists():
                shutil.rmtree(part)
        moves[b] = {"from": owner[b], "to": dest}
        owner[b] = dest

    touched = sorted({m["from"] for m in moves.values()}
                     | {m["to"] for m in moves.values()})
    # tombstones + ledger re-route to each bucket's FINAL owner. The
    # rows are pinned off the source files (localCheckpoint) before
    # any rewrite — the lazy-recompute trap update_fields documents.
    for table, bucket_expr in (
            ("tombstones", F.shiftright(F.col("doc_id"), 40)),
            ("ledger", F.col("bucket"))):
        frames = [read_table(spark, shards[i], table)
                  .withColumn("_home", F.lit(i))
                  .withColumn("_b", bucket_expr.cast("long"))
                  for i in touched if has_table(shards[i], table)]
        if not frames:
            continue
        allrows = reduce(DataFrame.unionByName, frames).localCheckpoint(eager=True)
        # only MOVED buckets re-route; everything else stays home —
        # the when-chain is sized by the move plan, not the universe
        route = F.coalesce(
            *[F.when(F.col("_b") == bb, F.lit(mm["to"]))
              for bb, mm in moves.items()],
            F.col("_home"))
        allrows = allrows.withColumn("_dest", route)
        for i in touched:
            mine = allrows.filter(F.col("_dest") == i) \
                .drop("_home", "_b", "_dest")
            d = shards[i] / table
            if d.exists():
                shutil.rmtree(d)
            mine.write.parquet(str(d))
    for i in touched:
        write_stats(spark, shards[i])
        man = json.loads((shards[i] / "_manifest.json").read_text())
        man["owned_buckets"] = sorted(b for b, o in owner.items() if o == i)
        man["router"] = "explicit"
        (shards[i] / "_manifest.json").write_text(json.dumps(man))
    counts_after = [len([b for b, o in owner.items() if o == i])
                    for i in range(len(shards))]
    return {"moves": moves, "counts_before": counts_before,
            "counts_after": counts_after}
