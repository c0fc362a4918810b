"""Persistent inverted-index build + query engine.

Build topology — the **bucket-local segment-writer strategy** (one pass
per bucket group, the resumable unit; analog of the reference's
transaction-per-job discipline, Indexer.java:97-116):

    live docs (bucket ∈ group)
      → repartition(raw docs, by bucket)       [the ONLY shuffle — raw
        docs are ~25× smaller than their tf rows; measured: shuffling
        tf rows made the build disk-bound and killed scaling]
      → _bucket_local_encode (ONE mapInPandas kernel per bucket:
        tokenize + tf/dl aggregation + lexsort + vectorized
        whole-partition posting encode via codec.encode_many —
        the Lucene segment-writer model; doclen rides along as
        __dl__<field> pseudo-postings rows so there is ONE sink)
      → write postings parquet partitioned by bucket
        (dynamic partition overwrite → idempotent → resume-safe)
      → doclen table exploded from the pseudo-rows (tiny input);
        docs table written concurrently
      → ledger row per bucket, written driver-side via pyarrow
        (metrics read a persisted n_bytes column, never the blobs)

Skew handling per north_rule: bucket-local encode caps any term's
group at the bucket size (corpus / n_buckets) — a `def` in 90% of
10^12 docs is still only ~10^6 postings per bucket task; bucket sizes
themselves are uniform by hash.

The same kernel is the ONE segment writer after build too: a streamed
micro-batch runs it over the batch's docs (streaming.index_microbatch),
and compaction / tier merges run :func:`_bucket_local_merge`, which
decodes a bucket's segments and re-encodes them through the same
:func:`_encode_segments` tail — the Lucene segment-merge counterpart.

Scale notes: postings are per-(term, bucket) segments, never a single
global row per term — at 10^12 docs a global `the` row would be ~TBs.
Buckets are the query-side parallel unit and the resume unit. Merge
determinism holds because every id/ordering derives from doc content
(bucketed doc_id scheme, build.py), not partition layout.
"""

from __future__ import annotations

import json
import re
import threading
import time
import uuid
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftidx.build import DEFAULT_BUCKETS, live_docs, prepare_docs
from ftidx.codec import (decode_postings, delta_decode_runs, encode_many,
                         encode_postings, varint_decode)
from ftidx.schema import CHECKPOINT_SCHEMA, POSTINGS_SCHEMA
from ftidx.wand import (TermList, _topk_from_scores, bm25_contrib, bm25_idf,
                        filter_matches, merge_group, score_all,
                        score_block_max, score_boolean, score_exhaustive)

_POSTINGS_COLS = [f.name for f in POSTINGS_SCHEMA.fields]

# Driver cache byte budgets (LRU, alongside the entry-count caps) for
# the term, filter and query-result caches of :class:`FtIndex`.
TERM_CACHE_MAX_BYTES = 512 * 1024 * 1024
FILTER_CACHE_MAX_BYTES = 64 * 1024 * 1024
RESULT_CACHE_MAX_BYTES = 32 * 1024 * 1024
# Above this many docs in a field, cold queries are routed by a df
# probe: terms whose postings fit the budget score on the driver, fat
# ones score in the executors (:meth:`FtIndex.topk_distributed`).
DRIVER_SCORE_MAX_DOCS = 2_000_000
# :func:`write_stats` builds the ``termstats`` routing table only above
# this many docs: below it the probe's postings-aggregate fallback is
# already cheap, and the extra job was ~7% of a 100k-file build.
TERMSTATS_MIN_DOCS = 1_000_000


def _drop_tombstones(ids: np.ndarray, scores: np.ndarray, tombs: frozenset):
    """The one tombstone filter over scored docs, on the driver
    (:meth:`FtIndex._live_topk`) and inside per-bucket closures, which
    receive the handle's snapshot. No work when there are none."""
    if not tombs:
        return ids, scores
    keep = ~np.isin(ids.astype(np.int64),
                    np.fromiter(tombs, np.int64, len(tombs)))
    return ids[keep], scores[keep]


def _align(sorted_ids: np.ndarray, probe: np.ndarray):
    """Look up each ``probe`` id in ascending ``sorted_ids``: (hit mask,
    position). ``position`` is clipped into range, so it is only
    meaningful where ``hit``."""
    if not sorted_ids.size:
        return np.zeros(probe.size, bool), np.zeros(probe.size, np.intp)
    pos = np.minimum(np.searchsorted(sorted_ids, probe), sorted_ids.size - 1)
    return sorted_ids[pos] == probe, pos


DOCLEN_FIELD_PREFIX = "__dl__"
DOCS_FIELD = "__docs__"
PSEUDO_PREFIX = "__"  # every transport pseudo-row field starts with this

_DOCS_META_COLS = ["doc_id", "repo", "path", "commit", "lang", "deleted",
                   "modified", "content_sha256", "bucket"]
DOCS_TABLE_SCHEMA = ("doc_id long, repo string, path string, commit string, "
                     "lang string, deleted boolean, modified timestamp, "
                     "content_sha256 string, bucket int")


def _serialize_meta(pdf: pd.DataFrame) -> bytes:
    """Docs metadata frame → Arrow IPC stream bytes (deterministic for
    identical content/order; no pickle)."""
    import pyarrow as pa

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def _deserialize_meta(blob: bytes) -> pd.DataFrame:
    import pyarrow as pa

    return pa.ipc.open_stream(pa.py_buffer(blob)).read_all().to_pandas()


def _bucket_local_encode(batches, stem_field: bool = False,
                         shingle_field: bool = False):
    """mapInPandas kernel for the bucket-local build strategy: input is
    raw docs hash-partitioned by bucket (the ONLY shuffle — raw docs
    are ~25× smaller than their tf rows). The kernel tokenizes,
    aggregates tf/dl, sorts, and emits each bucket's fully-encoded
    postings — the Lucene segment-writer model. Each doc's bucket is
    read from its input row, never derived from its id: batch ids embed
    it (``bucket << 40 | rank``), streamed hash ids do not.

    The build has ONE sink and makes ONE pass over the shuffled corpus:
    per-(bucket, field) document lengths ride as pseudo-postings rows
    under field ``__dl__<field>`` (ids blob + lens blob), and the docs
    table's metadata (every prepared row incl. tombstoned, minus
    content) rides as one ``__docs__`` pseudo-row per bucket (Arrow IPC
    bytes in the ``dls`` column, rows sorted by doc_id for determinism).
    build_index explodes both into their tables afterwards — those
    explode jobs read only the pseudo rows' blobs, never the corpus, so
    the raw corpus crosses the wire exactly once and is read exactly
    twice (source scan + shuffle read). Input rows are the FULL
    prepared docs (tombstoned included — they belong in the docs table);
    tokenization applies the live filter internally.

    Determinism: output rows are keyed by content-derived (bucket,
    field, term) and each bucket lands in exactly one partition (hash
    of the bucket value), so bytes are identical at any parallelism.

    Memory envelope: the raw token stream is the blow-up (~200 tokens/
    doc of Python strings), so it must NEVER be materialized for the
    whole partition — each Arrow batch (whole docs; one input row = one
    doc) is tokenized and tf/dl-aggregated on its own, and only the
    ~25× smaller compact tf rows accumulate across batches. Peak =
    one batch's tokens + the partition's tf rows, independent of bucket
    size — without this, 16 concurrent kernels over ~100k-doc buckets
    swamp RAM and the build anti-scales (measured: 16-core throughput
    halved at 8M files with whole-partition tokenization).
    """
    from ftidx.tokenize import tokenize_tf_batch

    tf_parts, meta_parts = [], []
    for pdf in batches:
        if not len(pdf):
            continue
        meta_parts.append(pdf[_DOCS_META_COLS])
        live = pdf[(~pdf["deleted"]) & pdf["content"].notna()]
        if len(live):
            part = tokenize_tf_batch(
                live[["doc_id", "content", "lang", "repo", "path"]],
                stem_field=stem_field, shingle_field=shingle_field)
            if len(part):
                part["bucket"] = live["bucket"].to_numpy()[
                    pd.Index(live["doc_id"]).get_indexer(part["doc_id"])]
                tf_parts.append(part)
    if not meta_parts:
        return
    meta = pd.concat(meta_parts, ignore_index=True) if len(meta_parts) > 1 else meta_parts[0]
    del meta_parts

    def docs_pseudo_rows():
        out = {c: [] for c in _POSTINGS_COLS}
        for b, grp in meta.groupby("bucket", sort=True):
            out["term"].append("*")
            out["field"].append(DOCS_FIELD)
            out["bucket"].append(int(b))
            out["df"].append(int(len(grp)))
            out["cf"].append(0)
            out["doc_ids"].append(b"")
            out["tfs"].append(b"")
            out["dls"].append(_serialize_meta(grp.sort_values("doc_id")
                                              .reset_index(drop=True)))
            for key in ("block_max_tf", "block_min_dl", "block_last_docid"):
                out[key].append([])
        return pd.DataFrame(out)

    if not tf_parts:
        yield docs_pseudo_rows()  # buckets whose docs are all tombstoned
        return
    tf = pd.concat(tf_parts, ignore_index=True) if len(tf_parts) > 1 else tf_parts[0]
    del tf_parts

    doc_ids = tf["doc_id"].to_numpy(dtype=np.int64).astype(np.uint64)
    tfs = tf["tf"].to_numpy(dtype=np.int64).astype(np.uint64)
    dls = tf["dl"].to_numpy(dtype=np.int64).astype(np.uint64)
    buckets = tf["bucket"].to_numpy()
    fld_codes, fld_uniq = pd.factorize(tf["field"])
    trm_codes, trm_uniq = pd.factorize(tf["term"])

    order = np.lexsort((doc_ids, trm_codes, fld_codes, buckets))
    doc_ids, tfs, dls = doc_ids[order], tfs[order], dls[order]
    buckets, fld_codes, trm_codes = buckets[order], fld_codes[order], trm_codes[order]
    out = _encode_segments(buckets, fld_codes, fld_uniq, trm_codes, trm_uniq,
                           doc_ids, tfs, dls)

    # doclen pseudo-rows: one per (bucket, field) — contiguous segments
    # in the sort order; docs repeat per term, dedup via np.unique
    bf_key = buckets.astype(np.int64) * len(fld_uniq) + fld_codes
    bf_change = np.empty(bf_key.size, dtype=bool)
    bf_change[0] = True
    np.not_equal(bf_key[1:], bf_key[:-1], out=bf_change[1:])
    bf_starts = np.flatnonzero(bf_change)
    bf_ends = np.concatenate([bf_starts[1:], [bf_key.size]])
    for s, e in zip(bf_starts, bf_ends):
        uniq_ids, first_idx = np.unique(doc_ids[s:e], return_index=True)
        uniq_lens = dls[s:e][first_idx]
        penc = encode_postings(uniq_ids, uniq_lens, uniq_lens)
        out["term"].append("*")
        out["field"].append(DOCLEN_FIELD_PREFIX + str(fld_uniq[fld_codes[s]]))
        out["bucket"].append(int(buckets[s]))
        for key in ("df", "cf", "doc_ids", "tfs", "dls",
                    "block_max_tf", "block_min_dl", "block_last_docid"):
            out[key].append(penc[key])
    yield pd.DataFrame(out)
    # pseudo docs rows LAST: they segregate into the trailing row
    # groups, so column-pruned metric/doclen scans prune them by the
    # field column's min/max statistics
    yield docs_pseudo_rows()


def _encode_segments(buckets, fld_codes, fld_uniq, trm_codes, trm_uniq,
                     doc_ids, tfs, dls) -> dict[str, list]:
    """The one postings writer, shared by build and merge: rows sorted
    by (bucket, field, term, doc_id), one per doc in each group → one
    encoded row per (bucket, field, term). All groups go through ONE
    vectorized codec.encode_many pass — per-group encode calls would
    dominate at millions of tiny term groups."""
    group_key = (buckets.astype(np.int64) * len(fld_uniq) + fld_codes) * len(trm_uniq) + trm_codes
    change = np.empty(group_key.size, dtype=bool)
    change[0] = True
    np.not_equal(group_key[1:], group_key[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    ends = np.concatenate([starts[1:], [group_key.size]])
    return {
        "term": list(trm_uniq[trm_codes[starts]]),
        "field": list(fld_uniq[fld_codes[starts]]),
        "bucket": [int(b) for b in buckets[starts]],
        **encode_many(doc_ids, tfs, dls, starts, ends),
    }


def _first_copies(buckets, fld_codes, trm_codes, doc_ids) -> np.ndarray:
    """Mask over input rows: True on the first copy of each (bucket,
    field, term, doc_id). Segments of one bucket may repeat a doc — a
    redelivered or replayed batch — and content-addressed ids carry
    identical postings, so keeping the first makes merges idempotent."""
    order = np.lexsort((doc_ids, trm_codes, fld_codes, buckets))
    cols = [a[order] for a in (buckets, fld_codes, trm_codes, doc_ids)]
    first = np.ones(doc_ids.size, dtype=bool)
    first[1:] = np.any([c[1:] != c[:-1] for c in cols], axis=0)
    keep = np.empty_like(first)
    keep[order] = first
    return keep


def _bucket_local_merge(batches, drop: np.ndarray | None = None):
    """mapInPandas kernel, the Lucene segment merge: every postings row
    of ≥1 whole buckets (base segments + delta batches) → one row per
    (bucket, field, term). Decodes every row, drops repeated docs
    (:func:`_first_copies`) and the ids in ``drop`` (a compaction passes
    one bucket's deleted docs) and re-encodes through the build's
    :func:`_encode_segments`; ``__dl__`` rows merge like any term,
    ``__docs__`` rows are dropped (only the build reads them)."""
    frames = [pdf[pdf["field"] != DOCS_FIELD] for pdf in batches]
    frames = [pdf for pdf in frames if len(pdf)]
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    dfs = pdf["df"].to_numpy(dtype=np.int64)
    doc_ids = delta_decode_runs(pdf["doc_ids"], dfs)
    tfs = varint_decode(b"".join(pdf["tfs"]))
    dls = varint_decode(b"".join(pdf["dls"]))
    fld_codes, fld_uniq = pd.factorize(pdf["field"], sort=True)
    trm_codes, trm_uniq = pd.factorize(pdf["term"], sort=True)
    buckets, fld_codes, trm_codes = (
        np.repeat(a, dfs) for a in (pdf["bucket"].to_numpy(), fld_codes, trm_codes))
    keep = _first_copies(buckets, fld_codes, trm_codes, doc_ids)
    if drop is not None:
        keep &= ~np.isin(doc_ids, np.asarray(drop, dtype=np.uint64))
        if not keep.any():
            return
    buckets, fld_codes, trm_codes, doc_ids, tfs, dls = (
        a[keep] for a in (buckets, fld_codes, trm_codes, doc_ids, tfs, dls))
    order = np.lexsort((doc_ids, trm_codes, fld_codes, buckets))
    yield pd.DataFrame(_encode_segments(
        buckets[order], fld_codes[order], np.asarray(fld_uniq),
        trm_codes[order], np.asarray(trm_uniq),
        doc_ids[order], tfs[order], dls[order]))[_POSTINGS_COLS]


def _explode_docs(batches):
    """``__docs__`` pseudo-rows → docs-table rows (Arrow IPC blobs)."""
    for pdf in batches:
        frames = [_deserialize_meta(bytes(b)) for b in pdf["dls"]]
        if frames:
            yield pd.concat(frames, ignore_index=True)


def _explode_doclen(batches):
    """Pseudo doclen postings rows → (doc_id, field, len, bucket)."""
    for pdf in batches:
        frames = []
        for row in pdf.to_dict("records"):
            ids, lens = decode_postings(row["doc_ids"], row["tfs"])
            frames.append(pd.DataFrame({
                "doc_id": ids.astype("int64"),
                "field": row["field"][len(DOCLEN_FIELD_PREFIX):],
                "len": lens.astype("int64"),
                "bucket": int(row["bucket"]),
            }))
        yield (pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "field": pd.Series(dtype=object),
             "len": pd.Series(dtype="int64"), "bucket": pd.Series(dtype="int32")}))


def _doclen_rows(postings: DataFrame) -> DataFrame:
    """Doclen-table rows exploded from the ``__dl__`` pseudo-rows of
    written postings — a build's or a streamed delta's."""
    return (postings.filter(F.col("field").startswith(DOCLEN_FIELD_PREFIX))
            .select("field", "bucket", "doc_ids", "tfs")
            .mapInPandas(_explode_doclen,
                         schema="doc_id long, field string, len long, bucket int"))


def _write_ledger_rows(ledger_dir: Path, rows: list[tuple]) -> None:
    """Append ledger rows driver-side via pyarrow — a ~KB file does not
    warrant a Spark job (saves a scheduler round-trip per group)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ledger_dir.mkdir(parents=True, exist_ok=True)
    names = [f.name for f in CHECKPOINT_SCHEMA.fields]
    table = pa.table(
        {n: [r[i] for r in rows] for i, n in enumerate(names)},
        schema=pa.schema([
            ("build_id", pa.string()), ("bucket", pa.int32()),
            ("status", pa.string()), ("n_docs", pa.int64()),
            ("postings_emitted", pa.int64()), ("bytes_compressed", pa.int64()),
            ("skew_ratio", pa.float64()), ("elapsed_sec", pa.float64()),
            ("tracking_id", pa.string()), ("error", pa.string()),
        ]),
    )
    pq.write_table(table, ledger_dir / f"part-{uuid.uuid4().hex}.parquet")


def _write_stats_rows(stats_dir: Path, rows) -> None:
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(stats_dir, ignore_errors=True)
    stats_dir.mkdir(parents=True, exist_ok=True)
    table = pa.table(
        {
            "field": [r["field"] for r in rows],
            "n_docs": [int(r["n_docs"]) for r in rows],
            "total_len": [int(r["total_len"]) for r in rows],
            "avgdl": [float(r["avgdl"]) for r in rows],
        }
    )
    pq.write_table(table, stats_dir / "part-0.parquet")


def _build_bucket_group(spark, docs, group, out, ledger_dir, build_id,
                        tracking_id, clustered, t0,
                        store_content=False, stem_field=False,
                        shingle_field=False) -> None:
    """One bucket group of a build pass: encode + write postings, then
    metrics/doclen/docs explodes off the WRITTEN postings, then the
    group's "done" ledger rows. Factored out of :func:`build_index` so
    the caller can persist a per-bucket failure reason (S27) on ANY
    exception the group's jobs raise."""
    docs_g = docs.filter(F.col("bucket").isin(group))

    # ---- bucket-local strategy (default): shuffle RAW DOCS by
    # bucket (the minimal shuffle — raw docs are ~25× smaller than
    # their tf rows), then ONE kernel tokenizes, aggregates, sorts
    # and encodes each bucket's postings — the Lucene segment-writer
    # model. tf rows never hit the shuffle system; doclen + the docs
    # table ride along as pseudo-postings rows, so this ONE job is
    # the only consumer of the corpus (see _bucket_local_encode).
    enc_in = docs_g
    if not clustered:
        enc_in = enc_in.repartition(len(group), "bucket")
    from functools import partial

    postings = (
        enc_in
        .mapInPandas(partial(_bucket_local_encode, stem_field=stem_field,
                             shingle_field=shingle_field),
                     schema=POSTINGS_SCHEMA)
        .withColumn(
            "n_bytes",
            F.octet_length("doc_ids") + F.octet_length("tfs") + F.octet_length("dls"),
        )
    )
    postings.write.mode("overwrite").partitionBy("bucket") \
        .parquet(str(out / "postings"))
    if store_content:
        # Solr stored="true" analog: raw text persisted next to the
        # index so serving-time highlighting / document retrieval
        # never needs the source. Same dynamic-partition-overwrite
        # discipline as every other per-group write (resume-safe).
        (docs_g.filter(F.col("content").isNotNull()
                       & ~F.col("deleted"))
         .select("doc_id", "content", "bucket")
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(str(out / "stored")))

    # everything below reads the WRITTEN postings (column-pruned,
    # pseudo-row-filtered) — never the corpus
    from concurrent.futures import ThreadPoolExecutor

    written = spark.read.parquet(str(out / "postings")).filter(
        F.col("bucket").isin(group)
    )

    def metrics():
        # S29/S30 analog: postings/bytes/skew from what was written
        real = written.filter(~F.col("field").startswith(PSEUDO_PREFIX))
        met = real.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("postings_emitted"),
            F.sum("n_bytes").alias("bytes_compressed"),
            (F.max("df") / F.avg("df")).alias("skew_ratio"),
        ).collect()
        nd = written.filter(F.col("field").startswith(DOCLEN_FIELD_PREFIX)) \
            .groupBy("bucket").agg(F.max("df").alias("n")).collect()
        return met, nd

    def explode_doclen():
        (_doclen_rows(written)
         .repartition(len(group), "bucket")
         .write.mode("overwrite").partitionBy("bucket").parquet(str(out / "doclen")))

    def explode_docs():
        (written.filter(F.col("field") == DOCS_FIELD)
         .select("dls")
         .mapInPandas(_explode_docs, schema=DOCS_TABLE_SCHEMA)
         .write.mode("overwrite").partitionBy("bucket").parquet(str(out / "docs")))

    with ThreadPoolExecutor(max_workers=3) as ex:
        f_met = ex.submit(metrics)
        f_dl = ex.submit(explode_doclen)
        f_docs = ex.submit(explode_docs)
        met, nd = f_met.result()
        f_dl.result()
        f_docs.result()

    ndocs = {r["bucket"]: int(r["n"]) for r in nd}
    elapsed = time.time() - t0
    rows = [
        (build_id, int(r["bucket"]), "done", int(ndocs.get(r["bucket"], 0)),
         int(r["postings_emitted"]), int(r["bytes_compressed"]),
         float(r["skew_ratio"]), elapsed, tracking_id, None)
        for r in met
    ]
    # buckets in the group with zero live docs still get a ledger row
    for b in group:
        if b not in {r[1] for r in rows}:
            rows.append((build_id, b, "done", 0, 0, 0, 1.0, elapsed,
                         tracking_id, None))
    _write_ledger_rows(ledger_dir, rows)


def build_index(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    *,
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_group_size: int | None = None,
    hot_df_threshold: int = 50_000,
    build_id: str | None = None,
    resume: bool = True,
    docs_ready: bool = False,
    positions: bool = False,
    store_content: bool = False,
    stem_field: bool = False,
    shingle_field: bool = False,
) -> dict:
    """Build (or resume) a persistent index under ``out_dir``.

    ``hot_df_threshold`` is ignored: the bucket-local kernel bounds
    every term's group at the bucket size, so no term needs salting.

    ``positions=True`` additionally writes the positional table
    (ftidx.positions) enabling exact phrase queries — opt-in since it
    roughly doubles index bytes and tokenize cost.

    ``store_content=True`` additionally persists raw text per doc
    (``stored/``, Solr stored="true" analog) enabling serving-time
    highlighting and full-document retrieval — opt-in since stored
    text dominates index bytes on large corpora.

    ``stem_field=True`` additionally indexes ``code.content.stem`` —
    every content token Porter-stemmed in place (Solr index-time
    PorterStemFilterFactory on a copyField): querying that field with
    stemmed terms matches all surface forms, ranking identical to the
    query-time :meth:`FtIndex.stem_topk` expansion (same tf sums, same
    merged df, same doc lengths — pinned in tests). Opt-in since it
    roughly doubles content-field postings. Recorded in the manifest;
    resume/upsert keep it consistent.

    ``shingle_field=True`` additionally indexes ``code.content.shingle``
    — adjacent content-token bigrams (Solr ShingleFilterFactory,
    size 2, no unigrams): a shingle's tf is the doc's
    adjacent-occurrence count, so a plain BM25 term query on the field
    answers two-word phrase queries WITHOUT positional postings (the
    classic Lucene phrase-speedup tradeoff: ~vocabulary² growth bought
    for position-free phrase matching; membership pinned equal to the
    positional engine in tests). Same manifest/resume/upsert/streaming
    consistency discipline as ``stem_field``.

    Returns a summary dict (buckets built/skipped, totals).
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    build_id = build_id or uuid.uuid4().hex[:12]
    manifest_path = out / "_manifest.json"
    params = {"n_buckets": n_buckets, "version": 1}
    if manifest_path.exists():
        prev = json.loads(manifest_path.read_text())
        if resume and {k: prev.get(k) for k in params} != params:
            raise ValueError(f"resume with mismatched params: {prev} vs {params}")
        if resume and bool(prev.get("stem_field", False)) != bool(stem_field):
            raise ValueError(
                f"resume with mismatched stem_field: index has "
                f"{prev.get('stem_field', False)!r}, caller passed "
                f"{stem_field!r} — a half-stemmed index would rank "
                f"inconsistently across buckets")
        if resume and bool(prev.get("shingle_field", False)) != bool(shingle_field):
            raise ValueError(
                f"resume with mismatched shingle_field: index has "
                f"{prev.get('shingle_field', False)!r}, caller passed "
                f"{shingle_field!r} — a half-shingled index would answer "
                f"phrase queries inconsistently across buckets")
    manifest_path.write_text(json.dumps({
        **params, "stem_field": bool(stem_field),
        "shingle_field": bool(shingle_field),
        "status": "building", "build_id": build_id}))

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    group_size = bucket_group_size or n_buckets  # one pass by default

    # S26 schema gate: abort the whole pass on drift BEFORE any job runs
    # (analog Indexer.java:164-168 — unknown field in the sink is fatal,
    # not retried; silent drift would poison every bucket)
    from ftidx.schema import DOCS_SCHEMA, SOURCE_SCHEMA, assert_schema

    assert_schema(source, DOCS_SCHEMA if docs_ready else SOURCE_SCHEMA,
                  "build_index source")

    # single-shuffle contract: prepare_docs pre-partitions by bucket and
    # the rank window + the one encode kernel reuse that exchange — the
    # raw corpus crosses the wire exactly once per build pass, and the
    # kernel's pseudo-rows carry doclen AND docs-table metadata so no
    # second pass over the corpus exists at all.
    clustered = not docs_ready  # docs_ready callers own their layout
    docs = source if docs_ready else prepare_docs(source, n_buckets, n_buckets)

    ledger_dir = out / "ledger"
    done: set[int] = set()
    if resume and ledger_dir.exists():
        led = spark.read.parquet(str(ledger_dir))
        done = {r["bucket"] for r in led.filter(F.col("status") == "done").select("bucket").distinct().collect()}

    pending = [b for b in range(n_buckets) if b not in done]
    built, skipped = [], sorted(done)
    for gi in range(0, len(pending), group_size):
        group = pending[gi : gi + group_size]
        t0 = time.time()
        tracking_id = uuid.uuid4().hex  # lineage analog, Indexer.java:235-246
        try:
            _build_bucket_group(
                spark, docs, group, out, ledger_dir, build_id,
                tracking_id, clustered, t0,
                store_content=store_content, stem_field=stem_field,
                shingle_field=shingle_field)
        except Exception as exc:
            # S27 failure-reason persistence (queueFail analog,
            # RawRepoQueueBean.java:28-34): record WHY the group's
            # buckets failed before re-raising — status stays
            # non-"done" so resume retries them, and the reason
            # survives in the ledger for FtIndex.metrics / GET
            # /metrics instead of living only in driver logs
            msg = f"{type(exc).__name__}: {exc}"[:1000]
            elapsed = time.time() - t0
            _write_ledger_rows(ledger_dir, [
                (build_id, int(b), "failed", 0, 0, 0, 1.0, elapsed,
                 tracking_id, msg)
                for b in group
            ])
            raise
        built.extend(group)

    if positions and pending:
        from ftidx.positions import build_positions

        build_positions(
            spark, live_docs(docs.filter(F.col("bucket").isin(pending))),
            str(out), len(pending), clustered=clustered,
        )

    write_stats(spark, out)
    manifest_path.write_text(
        json.dumps({**params, "stem_field": bool(stem_field),
                    "shingle_field": bool(shingle_field),
                    "status": "done", "build_id": build_id})
    )
    return {"built": built, "skipped": skipped, "n_buckets": n_buckets, "build_id": build_id}


def write_stats(spark: SparkSession, path: str | Path) -> None:
    """Finalise an index's statistics from what is on disk: per-field
    (n_docs, total_len, avgdl) from every doclen partition (aggregated
    in Spark, the tiny result written driver-side), then the
    ``termstats`` routing table when a field holds more than
    :data:`TERMSTATS_MIN_DOCS` docs. The one finaliser for a build and
    for every maintenance op that rewrites postings or moves buckets,
    so their output is indistinguishable from a fresh build."""
    path = Path(path)
    stats = spark.read.parquet(str(path / "doclen")).groupBy("field").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len").alias("total_len"),
        (F.sum("len") / F.count(F.lit(1))).cast("double").alias("avgdl"),
    ).collect()
    _write_stats_rows(path / "stats", stats)
    # read at call time, so a test can lower the threshold
    if max((int(r["n_docs"]) for r in stats), default=0) > TERMSTATS_MIN_DOCS:
        write_termstats(spark, str(path))


def _postings_fingerprint(index_path: Path) -> str:
    """Content identity of the postings directory (relative file names
    + sizes, hashed) — KB-cheap driver-side walk.  ``termstats``
    carries the fingerprint it was derived from; a maintenance op that
    rewrites postings changes the listing, FtIndex detects the
    mismatch at refresh() and falls back to the postings aggregate
    (routing stays semantics-preserving either way — both score paths
    return identical pages, only latency differs)."""
    import hashlib

    h = hashlib.sha256()
    base = index_path / "postings"
    if base.exists():
        for f in sorted(base.rglob("*.parquet")):
            h.update(f"{f.relative_to(base)}:{f.stat().st_size};".encode())
    return h.hexdigest()


def write_termstats(spark: SparkSession, index_path: str) -> None:
    """Skinny (field, term, df_total) routing-stats table, ONE columnar
    aggregate over postings at build time — so the fat-corpus df probe
    (:meth:`FtIndex._df_total`) reads a vocabulary-sized sorted table
    instead of scanning the multi-GB postings parquet once per cold
    term (the concurrent-serving bench's finding: that scan dominated
    cold-thin latency at 32M files).  Range-partitioned and sorted by
    (field, term) so a term-equality probe prunes to a couple of row
    groups via min/max stats.  Rebuild after maintenance with this
    same function; a stale table is ignored via the postings
    fingerprint."""
    out = Path(index_path)
    postings_dir = out / "postings"
    ts_dir = out / "termstats"
    if not (postings_dir.exists() and any(postings_dir.iterdir())):
        return
    p = spark.read.parquet(str(postings_dir))
    (p.groupBy("field", "term").agg(F.sum("df").alias("df_total"))
     .repartitionByRange(8, "field", "term")
     .sortWithinPartitions("field", "term")
     .write.mode("overwrite").parquet(str(ts_dir)))
    (ts_dir / "_postings_fingerprint").write_text(
        _postings_fingerprint(out))


def _parse_sort_keys(sort: str) -> list:
    """Solr ``"col asc, col2 desc"`` sort spec → orderBy key columns
    (expressions allowed, direction defaults asc). Raises ValueError
    on an empty spec — shared by :meth:`FtIndex.export` and
    :meth:`ftidx.shards.FtShards.export`."""
    if not sort or not str(sort).strip():
        raise ValueError("export requires sort= (Solr /export contract)")
    keys = []
    for part in str(sort).split(","):
        part = part.strip()
        if not part:
            continue
        toks = part.rsplit(None, 1)
        if len(toks) == 2 and toks[1].lower() in ("asc", "desc"):
            expr, direction = toks[0], toks[1].lower()
        else:
            expr, direction = part, "asc"
        col = F.expr(expr)
        keys.append(col.asc() if direction == "asc" else col.desc())
    if not keys:
        raise ValueError("export: empty sort spec")
    return keys


def _sig_score_cut(agg: DataFrame, fg_n: int, bg_n: int, limit: int,
                   min_doc_freq: float, max_doc_freq: float) -> DataFrame:
    """significant-terms bounds + JLH score + cut over a
    (term, fg_df, bg_df) aggregate frame — shared by the single-index
    and sharded paths so both apply Solr's <1.0-is-a-fraction df rule
    and the (score DESC, term ASC) TakeOrdered cut identically."""
    min_df = min_doc_freq * bg_n if min_doc_freq < 1.0 else min_doc_freq
    max_df = max_doc_freq * bg_n if max_doc_freq < 1.0 else max_doc_freq
    fg_pct = F.col("fg_df").cast("double") / F.lit(float(fg_n))
    bg_pct = F.col("bg_df").cast("double") / F.lit(float(bg_n))
    return (
        agg.filter((F.col("fg_df") > 0)
                   & (F.col("bg_df") >= float(min_df))
                   & (F.col("bg_df") <= float(max_df)))
        .withColumn("score",
                    F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 5))
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(limit)
    )


_TAG_RE = re.compile(r"^\{!tag=([A-Za-z0-9_,-]+)\}\s*(\S.*)$", re.S)


def _filter_tags(pred: str) -> tuple[frozenset, str]:
    """Split a /select filter's optional Solr localParams tag prefix:
    ``"{!tag=L}lang = 'python'"`` → ({'L'}, "lang = 'python'");
    ``"{!tag=a,b}…"`` carries two tags. An untagged predicate gets the
    empty tag set (never excludable). The predicate text after the
    prefix is what reaches the filterCache, so the SAME predicate
    tagged differently across requests still shares one cache entry."""
    m = _TAG_RE.match(pred.strip())
    if not m:
        return frozenset(), pred
    return frozenset(t for t in m.group(1).split(",") if t), m.group(2)


def _idset_cost(ids: frozenset) -> int:
    """Approximate resident bytes of a cached filter id-set: ~28 bytes
    per int object + ~2× 8-byte hash slots (frozenset overallocates),
    plus fixed set/dict-entry overhead."""
    return len(ids) * 90 + 256


def _small_table(d: Path, columns: list[str] | None = None) -> list[dict]:
    """Rows of a driver-sized table, read with pyarrow from the data
    files Spark would list (``_``- and ``.``-prefixed paths such as
    ``_SUCCESS`` and ``_temporary`` skipped). One ``ParquetFile`` per
    file: ``pq.read_table`` would load ``pyarrow.dataset``, about 40 MB
    of driver RSS."""
    import pyarrow.parquet as pq

    if not d.exists():
        return []
    rows = []
    for f in sorted(d.rglob("*.parquet")):
        if not any(p[0] in "._" for p in f.relative_to(d).parts):
            with pq.ParquetFile(f) as pf:
                rows += pf.read(columns=columns).to_pylist()
    return rows


def batch_dirs(d: Path) -> list[Path]:
    """The existing ``batch=<n>`` segment dirs of a delta table."""
    return sorted(p for p in d.iterdir()
                  if p.is_dir() and p.name.startswith("batch=")) \
        if d.exists() else []


def read_batches(spark: SparkSession, d: Path, schema=None) -> DataFrame | None:
    """A delta table's segments with their ``batch`` column, or None.
    Reads the listed dirs under ``basePath``: a ``batch=*`` glob makes
    Spark probe the literal glob path for streaming-sink metadata and
    log a FileNotFoundException stack per read."""
    dirs = batch_dirs(d)
    if not dirs:
        return None
    reader = spark.read.option("basePath", str(d))
    return (reader.schema(schema) if schema is not None else reader).parquet(
        *map(str, dirs))


def _entry_cost(rows: list[dict]) -> int:
    """Resident bytes of a cached term entry, once wand has memoised
    onto its rows the three decoded uint64 arrays and the float64 BM25
    contributions (32 B per posting): blobs, memos, and per row about
    1.2 KB of dict, tuple and array headers (1.5 KB counted). Computed
    from the row contents, not from which memos exist yet, so the same
    entry always costs the same."""
    return sum(len(r["doc_ids"]) + len(r["tfs"]) + len(r["dls"])
               + 32 * int(r["df"]) + 1536 for r in rows) or 1536


def wordbreak_candidates(qs: list[str], min_part_len: int) -> set[str]:
    """Every vocabulary lookup a wordbreak pass needs: the original
    terms, both halves of every legal split, and every adjacent join —
    O(Σ term length) strings, query-sized."""
    cands: set[str] = set(qs)
    for t in qs:
        for i in range(min_part_len, len(t) - min_part_len + 1):
            cands.add(t[:i])
            cands.add(t[i:])
    for a, b in zip(qs, qs[1:]):
        cands.add(a + b)
    return cands


def assemble_wordbreak(qs: list[str], dfs: dict[str, int],
                       min_part_len: int, limit: int) -> dict:
    """Pure assembly over resolved dfs (shared by the monolithic and
    sharded paths — the sharded caller passes GLOBALLY summed dfs, so
    both deployments rank identically)."""
    breaks = []
    for t in qs:
        if t in dfs:
            continue              # known terms don't break (Solr rule)
        opts = []
        for i in range(min_part_len, len(t) - min_part_len + 1):
            left, right = t[:i], t[i:]
            if left in dfs and right in dfs:
                opts.append((-min(dfs[left], dfs[right]), i, left, right))
        for _, _, left, right in sorted(opts)[:limit]:
            breaks.append((t, left, right, dfs[left], dfs[right]))
    combines = [(a, b, a + b, dfs[a + b])
                for a, b in zip(qs, qs[1:]) if a + b in dfs]
    return {"breaks": breaks, "combines": combines}


class FtIndex:
    """Query-side handle on a persisted index.

    ``topk`` collects the (few, term-filtered) postings rows to the
    driver and scores in numpy — the low-latency path; parquet
    row-group stats + dictionary filters make the term predicate an
    efficient pushdown. ``topk_distributed`` scores per bucket inside
    executors and take-orders globally — the 100 TB path where even
    one term's postings exceed driver memory.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = Path(path)
        # driver-side posting-list cache for hot query serving: repeat
        # queries hit numpy directly, no Spark job. LRU-bounded by entry
        # count AND bytes (TERM_CACHE_MAX_BYTES — decoded arrays
        # dominate); the 100 TB cold path is topk_distributed.
        from collections import OrderedDict

        self._term_cache: OrderedDict[tuple[str, str], list[dict]] = OrderedDict()
        self._term_cache_max = 4096
        self._term_cache_max_bytes = TERM_CACHE_MAX_BYTES
        self._cache_bytes = 0
        self._cache_hits = 0
        self._cache_misses = 0
        # filterCache gets the same LRU discipline as the term cache:
        # POST /select accepts arbitrary predicate strings, and each
        # memoized id-set holds one long per matching doc — unbounded,
        # a varied or broad-filter workload grows driver memory until
        # refresh(). Bounded by entry count AND approximate bytes.
        self._filter_cache_max = 1024
        self._filter_cache_max_bytes = FILTER_CACHE_MAX_BYTES
        self._filter_cache_bytes = 0
        # Solr queryResultCache analog: (query shape) → the final
        # ranked [(doc_id, score)] page. Same LRU discipline; hits
        # skip the whole decode/score path. Invalidated by refresh()
        # AND delete() (a cached page may hold a just-tombstoned doc).
        self._result_cache_max = 4096
        self._result_cache_max_bytes = RESULT_CACHE_MAX_BYTES
        self._result_cache_bytes = 0
        self._result_hits = 0
        self._result_misses = 0
        # fat-corpus query routing (the 32M-file probe's finding): a
        # hot term at n_docs=32M has df in the millions, and the
        # driver-kernel path COLLECTS its full postings — ~100 s for
        # one cold query.  Above this doc count, cold queries score in
        # the executors (topk_distributed — same kernels, same boolean
        # surface, one task per bucket, k rows per bucket to the
        # driver); below it the driver kernel plus its caches stays
        # the low-latency serving path.  The queryResultCache applies
        # to both, so repeat queries stay O(µs) either way.
        self._driver_score_max_docs = DRIVER_SCORE_MAX_DOCS
        # guards ALL cache bookkeeping (term/filter/result caches,
        # counters) and handle-state swaps (refresh) in SHORT critical
        # sections — Spark fetches run outside it, so concurrent
        # queries overlap in the scheduler instead of serializing.
        # Reentrant: refresh() takes it and is called under it by
        # maintenance wrappers.
        self._cache_lock = threading.RLock()
        # df-probe cache for fat-corpus routing: (field, term) → total
        # df (an int — postings-free, so memory is negligible).  Lets
        # _topk_uncached keep thin-term queries on the driver kernel
        # when the corpus itself is over the doc budget.
        self._df_cache: OrderedDict[tuple[str, str], int] = OrderedDict()
        # giant-collect throttle: query surfaces without a distributed
        # fallback (query_string/edismax/LTR/phrase call _term_lists
        # directly) legitimately collect fat postings at a fat corpus.
        # N serving threads doing that CONCURRENTLY multiplied the
        # driver working set N× — the round-5 serving bench OOM-killed
        # a 78 GB driver exactly this way.  Fetches whose probed df
        # exceeds the routing budget serialize through this lock,
        # bounding peak driver memory to ~one giant working set (the
        # per-entry cache cap keeps them out of the term cache too).
        self._big_fetch_lock = threading.Lock()
        self.refresh()

    def refresh(self) -> None:
        """Re-read manifest/postings/stats/tombstones and drop the term
        cache. Call after maintenance ops (compact, upsert) rewrite the
        index under this path — a stale handle would otherwise keep
        serving cached postings/idf.
        Holds the cache lock for the whole swap so a concurrent query
        never sees half-new handle state (refresh is rare; queries are
        short)."""
        with self._cache_lock:
            self._refresh_inner()

    def _refresh_inner(self) -> None:
        from ftidx.positions import _POS_COLS, POSITIONS_SCHEMA

        # every Spark reader is handed its table's schema and the
        # driver-sized tables are read with pyarrow: schema inference and
        # collect() each cost a Spark job, and opening a handle needs none
        spark = self.spark
        # a streaming-only index (deltas, no build) has no manifest
        man = self.path / "_manifest.json"
        self.manifest = json.loads(man.read_text()) if man.exists() else {}
        # postings/stats may be absent: a delete_by_query(match_all=True)
        # truncation leaves a valid, empty index behind
        postings_dir = self.path / "postings"
        if postings_dir.exists() and any(postings_dir.iterdir()):
            self._postings = spark.read.schema(POSTINGS_SCHEMA).parquet(
                str(postings_dir))
        else:
            self._postings = spark.createDataFrame([], POSTINGS_SCHEMA)
        # streamed delta segments (merge-on-read): union them in so the
        # serving surface (topk/topk_batch/server) answers over base +
        # deltas without waiting for compact; the kernels already
        # handle multiple segments per term with overlapping id ranges
        # (streaming hash ids)
        delta = read_batches(spark, self.path / "deltas", POSTINGS_SCHEMA)
        self._delta_postings = None
        if delta is not None:
            delta = delta.select(_POSTINGS_COLS)
            self._postings = (
                self._postings.select(_POSTINGS_COLS).unionByName(delta)
            )
            # kept separately: the df probe adds a delta-only aggregate
            # (small scan) on top of the termstats table, which covers
            # base postings only
            self._delta_postings = delta
        # routing-stats table (see write_termstats): loaded only when
        # its fingerprint matches the CURRENT postings listing — a
        # maintenance rewrite invalidates it and the df probe falls
        # back to the postings aggregate (identical results, slower
        # cold probe) until write_termstats runs again
        ts_dir = self.path / "termstats"
        self._termstats = None
        if ts_dir.exists() and any(ts_dir.iterdir()):
            fp = ts_dir / "_postings_fingerprint"
            if fp.exists() and fp.read_text() == _postings_fingerprint(self.path):
                self._termstats = spark.read.schema(
                    "field string, term string, df_total long").parquet(str(ts_dir))
        self.stats = {
            r["field"]: (int(r["n_docs"]), float(r["avgdl"]))
            for r in _small_table(self.path / "stats")
        }
        # delta doclen shifts the collection stats (n_docs, avgdl):
        # recompute across base + delta — a cheap agg over two skinny
        # tables, only paid when deltas exist
        ddl = read_batches(spark, self.path / "delta_doclen")
        if ddl is not None:
            frames = [ddl.select("doc_id", "field", "len")]
            dl_dir = self.path / "doclen"
            if dl_dir.exists() and any(dl_dir.iterdir()):
                frames.append(spark.read.parquet(str(dl_dir))
                              .select("doc_id", "field", "len"))
            dl = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
            self.stats = {
                r["field"]: (int(r["n_docs"]), float(r["avgdl"]))
                for r in dl.dropDuplicates(["doc_id", "field"])
                .groupBy("field")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     (F.sum("len") / F.count(F.lit(1))).cast("double").alias("avgdl"))
                .collect()
            }
        # an immutable snapshot: delete()/refresh() swap in a new one,
        # so a reader holding the old one never sees it change
        self._tombstones: frozenset[int] = frozenset(
            r["doc_id"] for r in _small_table(self.path / "tombstones", ["doc_id"]))
        pos_dir = self.path / "positions"
        self._positions = (
            spark.read.schema(POSITIONS_SCHEMA).parquet(str(pos_dir))
            if pos_dir.exists() else None
        )
        # streamed positional deltas (Solr soft-commit parity): union
        # them in like the postings deltas, so a doc streamed in is
        # phrase-queryable BEFORE compact; phrase_docs merges
        # same-doc occurrences across segments defensively already
        dpos = read_batches(spark, self.path / "delta_positions",
                            POSITIONS_SCHEMA)
        if dpos is not None:
            dpos = dpos.select(_POS_COLS)
            self._positions = (
                dpos if self._positions is None
                else self._positions.select(_POS_COLS).unionByName(dpos)
            )
        self._term_cache.clear()
        self._cache_bytes = 0
        self._df_cache.clear()  # maintenance rewrites change dfs
        # Solr filterCache analog: fq-predicate → frozen doc-id set;
        # invalidated with the rest of the handle state; LRU-bounded
        # (entries + bytes) — see predicate_ids
        from collections import OrderedDict

        self._filter_cache: OrderedDict[str, frozenset] = OrderedDict()
        self._filter_cache_bytes = 0
        self._result_cache: OrderedDict[tuple, list] = OrderedDict()
        self._result_cache_bytes = 0
        # memoized SolrTextTagger dictionaries (POST /tag) — rebuilt
        # lazily after maintenance rewrites the docs table
        self._taggers = {}

    # -- maintenance -----------------------------------------------------
    def delete(self, doc_ids: list[int]) -> None:
        """Tombstone docs (delete-by-id analog, Indexer.java:219-222):
        appended to a side table, anti-filtered at query time until
        :func:`ftidx.maintenance.compact` folds them in."""
        df = self.spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
        df.write.mode("append").parquet(str(self.path / "tombstones"))
        with self._cache_lock:
            self._tombstones = self._tombstones | {int(d) for d in doc_ids}
            # cached result pages may hold a just-tombstoned doc
            self._result_cache.clear()
            self._result_cache_bytes = 0

    def delete_by_query(self, *, terms: list[str] | None = None,
                        field: str = "code.content", where: str | None = None,
                        match_all: bool = False) -> dict:
        """Predicate-driven delete (Solr ``deleteByQuery`` analog) —
        see :func:`ftidx.maintenance.delete_by_query`. The handle
        refreshes itself so subsequent queries see the deletes."""
        from ftidx.maintenance import delete_by_query

        out = delete_by_query(self.spark, str(self.path), terms=terms,
                              field=field, where=where, match_all=match_all)
        self.refresh()
        return out

    # -- queries ---------------------------------------------------------
    def _fetch_term_rows(self, terms: list[str], field: str) -> dict[str, list[dict]]:
        """Term rows via the driver cache; only cache misses touch Spark.

        Cache bookkeeping runs under ``_cache_lock`` in short critical
        sections; the Spark postings fetch runs OUTSIDE the lock so
        concurrent cold queries overlap in the scheduler instead of
        serializing behind one collect (the concurrent-serving bench's
        finding).  Two threads missing the same term fetch it twice —
        benign: identical rows, second insert wins, bytes stay exact.
        The resolve loop re-checks the cache after each fetch because
        an entry seen present can be evicted by another thread before
        we copy it out — such a term simply joins the next fetch."""
        out: dict[str, list[dict]] = {}
        grouped: dict[str, list[dict]] = {}
        pending = list(dict.fromkeys(terms))
        first_pass = True
        while True:
            with self._cache_lock:
                unresolved = []
                for t in pending:
                    key = (field, t)
                    if key in self._term_cache:
                        rows = self._term_cache.pop(key)  # re-insert → most recent
                        self._cache_bytes -= _entry_cost(rows)
                    elif t in grouped:
                        rows = grouped[t]
                    else:
                        unresolved.append(t)
                        continue
                    out[t] = rows
                    # per-entry cap: a single huge entry (fat term
                    # collected under a generous routing budget) would
                    # evict the WHOLE cache for one query's benefit —
                    # serve it uncached instead (round-5 serving bench:
                    # one 534 MB entry left `entries: 1` behind)
                    cost = _entry_cost(rows)
                    if cost * 4 > self._term_cache_max_bytes:
                        continue
                    self._term_cache[key] = rows
                    self._cache_bytes += cost
                if first_pass:
                    self._cache_misses += len(unresolved)
                    self._cache_hits += len(pending) - len(unresolved)
                    first_pass = False
                # LRU eviction, BYTE-aware: entries end up carrying
                # decoded arrays and BM25 contributions (32 B per
                # posting, memoized into the row dicts), so an
                # entry-count cap alone would let a few thousand
                # high-df terms exhaust driver memory. Drop oldest
                # until under both budgets;
                # `out` keeps its references, so the current query is
                # unaffected even if its own entries fall out.
                while self._term_cache and (
                    len(self._term_cache) > self._term_cache_max
                    or self._cache_bytes > self._term_cache_max_bytes
                ):
                    _, old_rows = self._term_cache.popitem(last=False)
                    self._cache_bytes -= _entry_cost(old_rows)
            if not unresolved:
                return out
            # fat-corpus guard: at a corpus over the routing budget,
            # probe the fetch's total df first (cheap termstats read)
            # and serialize GIANT collects through the big-fetch lock —
            # callers on this path (query_string/edismax/LTR/phrase)
            # have no distributed fallback, so the fetch must happen,
            # but not 16× concurrently
            n_docs_f, _ = self.stats.get(field, (0, 1.0))
            fat_fetch = False
            if n_docs_f > self._driver_score_max_docs:
                dft = self._df_total(unresolved, field)
                fat_fetch = (dft is None
                             or dft > self._driver_score_max_docs)
            if fat_fetch:
                self._big_fetch_lock.acquire()
            try:
                fetched = (
                    self._postings.filter(
                        (F.col("field") == field) & F.col("term").isin(unresolved)
                    )
                    .select("term", "df", "cf", "doc_ids", "tfs", "dls")
                    .collect()
                )
            finally:
                if fat_fetch:
                    self._big_fetch_lock.release()
            for t in unresolved:
                grouped.setdefault(t, [])
            for r in fetched:
                grouped[r["term"]].append(r.asDict())
            pending = unresolved

    def _term_lists(self, terms: list[str], field: str):
        qterms = sorted(set(terms))
        by_term = self._fetch_term_rows(qterms, field)
        n_docs, avgdl = self.stats.get(field, (0, 1.0))
        lists = []
        for term, trows in by_term.items():
            if not trows:
                continue
            df_global = sum(int(r["df"]) for r in trows)
            lists.append(TermList(term, trows, bm25_idf(n_docs, df_global)))
        return lists, avgdl

    def _live_topk(self, ids: np.ndarray, scores: np.ndarray, k: int,
                   tombs: frozenset | None = None) -> list[tuple[int, float]]:
        """The one tombstone-aware cut: the (score DESC, doc_id ASC)
        top-k of the live docs among ``ids`` as a (doc_id, score) page.
        Reads the tombstone snapshot once; a caller that sized a
        pruned kernel's k by ``k + len(tombs)`` passes that snapshot."""
        if tombs is None:
            tombs = self._tombstones
        ids, scores = _topk_from_scores(
            *_drop_tombstones(ids, scores, tombs), k)
        return list(zip(ids.astype(np.int64).tolist(), scores.tolist()))

    def topk(self, terms: list[str], k: int = 10, field: str = "code.content",
             kernel: str = "block_max", mode: str = "or",
             exclude: list[str] | None = None,
             min_match: int | None = None,
             use_cache: bool = True) -> list[tuple[int, float]]:
        """``mode="and"`` requires every term (conjunctive BM25);
        ``min_match=m`` requires at least m of the terms (Solr ``mm``,
        between OR and AND); ``exclude`` drops docs containing any of
        those terms — the Solr ``+must -not`` query surface beyond
        bag-of-words OR.

        Repeat queries serve from the queryResultCache (Solr analog):
        the final ranked page keyed by the full query shape,
        LRU-bounded, invalidated by refresh()/delete().
        ``use_cache=False`` bypasses it both ways (no read, no insert)
        — benchmarks measuring the scoring path use this."""
        if not use_cache:
            return self._topk_uncached(terms, k, field, kernel, mode,
                                       exclude, min_match)
        ckey = ("topk", field, tuple(terms), k, kernel, mode,
                tuple(exclude or ()), min_match)
        with self._cache_lock:
            hit = self._result_cache.get(ckey)
            if hit is not None:
                self._result_cache.move_to_end(ckey)
                self._result_hits += 1
                return list(hit)
            self._result_misses += 1
        # scoring runs OUTSIDE the lock — concurrent cold queries
        # overlap; two threads racing the same ckey both score and the
        # second insert is skipped (identical page either way)
        out = self._topk_uncached(terms, k, field, kernel, mode,
                                  exclude, min_match)
        with self._cache_lock:
            if ckey not in self._result_cache:
                self._result_cache[ckey] = out
                self._result_cache_bytes += 40 * len(out) + 96
                while (len(self._result_cache) > self._result_cache_max
                       or self._result_cache_bytes > self._result_cache_max_bytes):
                    _, old = self._result_cache.popitem(last=False)
                    self._result_cache_bytes -= 40 * len(old) + 96
        return list(out)

    def _df_total(self, terms: list[str], field: str) -> int | None:
        """Total df across ``terms`` via the df-probe cache; one cheap
        (term, df)-column aggregate fills misses.  The fat-corpus
        router uses this to keep THIN-term queries on the driver
        kernel: routing on corpus size alone sent a df=100 rare-term
        query through a full distributed scoring job when collecting
        its few hundred postings is the same latency as the probe and
        seeds the term cache for every later query sharing the term
        (the concurrent-serving bench's finding).  df values are ints:
        the cache is tiny (LRU 64k entries) and NEVER holds postings."""
        with self._cache_lock:
            missing = [t for t in terms if (field, t) not in self._df_cache]
        if missing:
            if self._termstats is not None:
                # skinny sorted (field, term, df_total) table — probe
                # prunes to a couple of row groups; deltas (absent from
                # termstats) contribute via a small delta-only aggregate
                fetched = {
                    r["term"]: int(r["df_total"])
                    for r in self._termstats.filter(
                        (F.col("field") == field)
                        & F.col("term").isin(missing)).collect()
                }
                if self._delta_postings is not None:
                    for r in (self._delta_postings.filter(
                            (F.col("field") == field)
                            & F.col("term").isin(missing))
                            .groupBy("term").agg(F.sum("df").alias("d"))
                            .collect()):
                        fetched[r["term"]] = fetched.get(r["term"], 0) + int(r["d"])
            else:
                fetched = {
                    r["term"]: int(r["total_df"])
                    for r in self._postings.filter(
                        (F.col("field") == field) & F.col("term").isin(missing))
                    .groupBy("term").agg(F.sum("df").alias("total_df"))
                    .collect()
                }
            with self._cache_lock:
                for t in missing:
                    self._df_cache[(field, t)] = fetched.get(t, 0)
                while len(self._df_cache) > 65536:
                    self._df_cache.popitem(last=False)
        with self._cache_lock:
            out = 0
            for t in terms:
                v = self._df_cache.get((field, t))
                if v is None:
                    return None  # raced out of the LRU — treat as fat
                out += v
            return out

    def _topk_uncached(self, terms, k, field, kernel, mode,
                       exclude, min_match) -> list[tuple[int, float]]:
        # beyond the driver-scoring doc budget, route to the executor
        # path (see __init__ — identical kernels/boolean surface,
        # pinned by test_topk_routes_distributed_beyond_doc_budget) —
        # UNLESS a df probe shows the query's postings are small
        # (thin/rare terms): those collect + cache driver-side, same
        # cold latency, µs-warm for later queries sharing the terms
        n_docs_f, _ = self.stats.get(field, (0, 1.0))
        if kernel == "block_max" and n_docs_f > self._driver_score_max_docs:
            probe_terms = sorted(set(terms) | set(exclude or ()))
            df_total = self._df_total(probe_terms, field)
            if df_total is None or df_total > self._driver_score_max_docs:
                rows = self.topk_distributed(
                    terms, k, field, mode=mode, exclude=exclude,
                    min_match=min_match).collect()
                return [(int(r["doc_id"]), float(r["score"])) for r in rows]
        lists, avgdl = self._term_lists(terms, field)
        if not lists:
            return []
        if mode == "and" and len(lists) < len(set(terms)):
            return []  # a required term matches nothing anywhere
        if min_match is not None and min_match > len(lists):
            return []  # fewer matching terms than the floor demands
        tombs = self._tombstones
        if mode == "and" or exclude or min_match:
            xlists, _ = self._term_lists(exclude, field) if exclude else ([], 0)
            ids, scores = score_boolean(lists, avgdl, k + len(tombs),
                                        require_all=(mode == "and"),
                                        exclude_lists=xlists,
                                        min_match=min_match)
        else:
            fn = score_block_max if kernel == "block_max" else score_exhaustive
            ids, scores = fn(lists, avgdl, k + len(tombs))
        return self._live_topk(ids, scores, k, tombs)

    def topk_synonyms(self, groups: dict[str, list[str]], k: int = 10,
                      field: str = "code.content") -> list[tuple[int, float]]:
        """Query-time synonym expansion (Solr SynonymGraphFilter at
        query time): each entry maps a canonical query term to its
        synonym set, and the group scores as ONE pseudo-term — member
        postings merged (a doc's tf is the SUM of its member tfs, its
        group df the count of docs containing ANY member) and idf
        recomputed from the merged df. This is exactly the ranking a
        token-level canonicalizing analyzer would produce, without
        reindexing when the synonym table changes.

        Serving path: members' postings come from the same driver term
        cache as :meth:`topk` (decode memoized); the merge is one
        numpy sort + segment-sum per group, score accumulation one
        scatter-add — no Spark job."""
        n_docs, avgdl = self.stats.get(field, (0, 1.0))
        merged = []
        for canon, syns in groups.items():
            lists, _ = self._term_lists(list(dict.fromkeys([canon, *syns])),
                                        field)
            if lists:
                g = merge_group(canon, lists)
                g.idf = bm25_idf(n_docs, g.df)
                merged.append(g)
        ids, scores, _ = score_all(merged, avgdl)
        return self._live_topk(ids, scores, k)

    def query_string(self, q: str, k: int = 10,
                     field: str = "code.content",
                     min_match: int | None = None,
                     kernel: str = "auto") -> list[tuple[int, float]]:
        """Lucene/Solr query-string search — ``+must -not field:term
        "a b"~slop term^boost`` — parsed and executed by
        :mod:`ftidx.qparse` against this handle's cached postings and
        positions; ``min_match`` applies Solr ``mm`` over the optional
        clauses. ``kernel="auto"`` MaxScore-prunes pure-disjunction
        queries (see :func:`ftidx.qparse.execute`). The drop-in
        surface for a user migrating Solr query strings from the
        reference."""
        from ftidx.qparse import execute

        return execute(self, q, k=k, default_field=field,
                       min_match=min_match, kernel=kernel)

    def topk_batch(self, queries: list[list[str]], k: int = 10,
                   field: str = "code.content",
                   kernel: str = "block_max") -> list[list[tuple[int, float]]]:
        """Top-k for a BATCH of queries with ONE postings fetch: the
        union of all uncached terms is pulled in a single Spark job
        (one isin-pushdown scan instead of one job per query), then
        each query scores driver-side from the warm cache. The batch
        analog of run_query_set for the compressed index — a serving
        tier draining a queue of queries amortizes the scan exactly
        like this."""
        all_terms = sorted({t for q in queries for t in q})
        if all_terms:
            self._fetch_term_rows(all_terms, field)  # one job, warms cache
        return [self.topk(q, k=k, field=field, kernel=kernel) for q in queries]

    def _positions_by_term(self, qterms: list[str],
                           field: str) -> dict[str, list[dict]]:
        """Positional rows for a term set, grouped by term — one
        pushdown scan (field + term isin predicates reach parquet)."""
        if self._positions is None:
            raise ValueError(
                "index has no positions table; rebuild with "
                "build_index(..., positions=True) to enable phrase queries"
            )
        pos_rows = (
            self._positions.filter(
                (F.col("field") == field) & F.col("term").isin(qterms)
            )
            .select("term", "df", "doc_ids", "tfs", "pos")
            .collect()
        )
        by_term: dict[str, list[dict]] = {}
        for r in pos_rows:
            by_term.setdefault(r["term"], []).append(r.asDict())
        return by_term

    def _bm25_over_docs(self, terms: list[str], field: str,
                        verified: np.ndarray,
                        k: int) -> list[tuple[int, float]]:
        """BM25 (sum over ``terms``) restricted to a verified doc set,
        ranked (score DESC, id ASC) — the scoring tail shared by the
        positional query surfaces. Reuses cached postings rows."""
        if verified.size == 0:
            return []
        lists, avgdl = self._term_lists(list(terms), field)
        ids, scores, _ = score_all(lists, avgdl)
        keep = np.isin(ids.astype(np.int64), verified.astype(np.int64))
        return self._live_topk(ids[keep], scores[keep], k)

    def phrase_topk(self, phrase: list[str], k: int = 10,
                    field: str = "code.content") -> list[tuple[int, float]]:
        """Exact-phrase BM25 top-k: docs containing the terms at
        consecutive positions, ranked by the terms' BM25 sum.

        Requires ``build_index(..., positions=True)``; the positional
        scan pushes the same (field, term) predicates into parquet as
        the term path. Verification is positions-only (self-contained
        blobs); scoring reuses the cached postings rows."""
        from ftidx.positions import phrase_docs

        if k <= 0 or not phrase:
            return []
        by_term = self._positions_by_term(sorted(set(phrase)), field)
        docs = phrase_docs(by_term, list(phrase))
        return self._bm25_over_docs(list(phrase), field, docs, k)

    def schema_info(self) -> dict:
        """Index introspection (Solr Luke / admin-schema analog): per
        indexed field the document count, average doc length, distinct
        vocabulary size and posting-row count, plus index-level state —
        build id, bucket count, whether positions are indexed, pending
        tombstones, unmerged streaming deltas. One column-pruned
        aggregation over the (term, field) projection of the postings
        table; the blobs are never read."""
        vocab = {
            r["field"]: (int(r["n_terms"]), int(r["n_rows"]))
            for r in self._postings.groupBy("field")
            .agg(F.countDistinct("term").alias("n_terms"),
                 F.count(F.lit(1)).alias("n_rows")).collect()
        }
        fields = {}
        for f, (n, a) in sorted(self.stats.items()):
            n_terms, n_rows = vocab.get(f, (0, 0))
            fields[f] = {"n_docs": n, "avgdl": round(a, 5),
                         "n_terms": n_terms, "n_posting_rows": n_rows}
        deltas_dir = self.path / "deltas"
        return {
            "build_id": self.manifest.get("build_id"),
            "n_buckets": self.manifest.get("n_buckets"),
            "positions": (self.path / "positions").exists(),
            "tombstones": len(self._tombstones),
            "has_deltas": deltas_dir.exists() and any(deltas_dir.iterdir()),
            "fields": fields,
        }

    def topk_boost_query(self, terms: list[str], bq: dict[str, float],
                         k: int = 10,
                         field: str = "code.content") -> list[tuple[int, float]]:
        """Solr ``bq=`` (boost query): the main query's BM25 ranking
        plus each boost term's BM25 contribution scaled by its weight —
        ``bq={"fast": 1.5}`` lifts docs that also mention "fast"
        without requiring it. Exactly additive: score(doc) = BM25(q)
        + Σ_t w_t·BM25(t), so a doc matching only a boost term still
        surfaces (Solr's optional-clause semantics). Reuses the
        weighted-fields kernel with per-term triples over one field —
        one warm-cache probe per term, no Spark job."""
        from ftidx.wand import score_weighted_fields

        if k <= 0 or not terms:
            return []
        lists, avgdl = self._term_lists(terms, field)
        triples = [(1.0, lists, avgdl)] if lists else []
        for t in sorted(bq):
            tl, _ = self._term_lists([t], field)
            if tl:
                triples.append((float(bq[t]), tl, avgdl))
        if not triples:
            return []
        tombs = self._tombstones
        ids, scores = score_weighted_fields(triples, k + len(tombs))
        return self._live_topk(ids, scores, k, tombs)

    def topk_reranked(self, terms: list[str], rerank_terms: list[str],
                      k: int = 10, rerank_docs: int = 100,
                      weight: float = 2.0,
                      field: str = "code.content") -> list[tuple[int, float]]:
        """Solr ReRankQParser (``rq={!rerank reRankQuery=... reRankDocs=N
        reRankWeight=W}``): the main query's full BM25 ordering is
        computed, then ONLY its top ``rerank_docs`` candidates get
        ``W × BM25(rerank_terms)`` added before the final cut — the
        two-stage retrieve-then-rerank shape. Docs outside the head
        keep their original scores (they can still pass a reranked doc
        whose combined score fell, exactly Solr's semantics), and a doc
        that doesn't reach the head can never gain the boost, which is
        what makes the second stage O(rerank_docs), not O(corpus).

        Serving path: two warm-cache probes (main terms + rerank
        terms), one searchsorted to align the head with the rerank
        scores — no Spark job."""
        if k <= 0 or not terms:
            return []
        lists, avgdl = self._term_lists(terms, field)
        if not lists:
            return []
        ids, scores, _ = score_all(lists, avgdl)
        tombs = self._tombstones
        ids, scores = _topk_from_scores(
            *_drop_tombstones(ids, scores, tombs), ids.size)
        n = min(int(rerank_docs), ids.size)
        rlists, ravgdl = self._term_lists(rerank_terms or [], field)
        if n and rlists:
            rids, rscores, _ = score_all(rlists, ravgdl)
            hit, pos = _align(rids.astype(np.int64), ids[:n].astype(np.int64))
            scores[:n][hit] += float(weight) * rscores[pos[hit]]
        return self._live_topk(ids, scores, k, tombs)

    def ltr_rerank(self, terms: list[str], model, k: int = 10,
                   rerank_docs: int = 100,
                   field: str = "code.content") -> list[tuple[int, float]]:
        """Solr LTR rescoring (``rq={!ltr model=m reRankDocs=N}``,
        LTRRescorer): the main query's top ``rerank_docs`` candidates
        are rescored by ``model`` (ftidx.ltr LinearModel / TreesModel).
        Complements :meth:`topk_ltr` (the full-match-set linear
        combination over stored-column feature EXPRESSIONS): this is
        the head-only second stage with a trained model object
        over serving-time features and reordered (model score DESC,
        doc_id ASC); the tail keeps its original BM25 order BELOW the
        rescored head — LTRRescorer places every rescored doc first,
        model scores and BM25 scores are deliberately not compared.

        Serving-time feature store (every value from the warm term
        cache — no Spark job):

        - ``orig``        — the main query's BM25 score
        - ``matched``     — number of distinct query terms in the doc
        - ``dl``          — the doc's field length
        - ``bm25@<fld>``  — BM25 of the same terms on another field
          (the SolrFeature arbitrary-subquery analog)
        """
        if k <= 0 or not terms:
            return []
        lists, avgdl = self._term_lists(terms, field)
        if not lists:
            return []
        ids, scores, _ = score_all(lists, avgdl)
        ids, scores = _topk_from_scores(
            *_drop_tombstones(ids, scores, self._tombstones), ids.size)
        n = min(int(rerank_docs), ids.size)
        head = ids[:n].astype(np.int64)
        hs_order = np.argsort(head)
        hs = head[hs_order]

        feats: dict[str, np.ndarray] = {}
        need = model.features()
        if "orig" in need:
            feats["orig"] = scores[:n].astype(np.float64)
        if "matched" in need or "dl" in need:
            matched = np.zeros(n, np.float64)
            dl_f = np.zeros(n, np.float64)
            seen_terms: set[str] = set()
            for tl in lists:
                # a repeated query term must count once toward
                # 'matched' (the sharded path dedupes via _gather's
                # sorted(set(terms)) — keep the twins aligned)
                if tl.term in seen_terms:
                    continue
                seen_terms.add(tl.term)
                dids, _tfs, dls = tl.decode_all()
                hit, pos = _align(hs, dids.astype(np.int64))
                matched[hs_order[pos[hit]]] += 1.0
                dl_f[hs_order[pos[hit]]] = dls[hit]
            feats["matched"] = matched
            feats["dl"] = dl_f
        for name in sorted(need):
            if name.startswith("bm25@"):
                fld = name.split("@", 1)[1]
                flists, favgdl = self._term_lists(terms, fld)
                vals = np.zeros(n, np.float64)
                if flists:
                    rids, rscores, _ = score_all(flists, favgdl)
                    hit, pos = _align(rids.astype(np.int64), hs)
                    vals[hs_order[hit]] = rscores[pos[hit]]
                feats[name] = vals
        unknown = need - set(feats)
        if unknown:
            raise ValueError(f"unknown LTR features: {sorted(unknown)}")

        mscore = model.score_np(feats)
        order = np.lexsort((head, -mscore))
        out = [(int(head[i]), float(mscore[i])) for i in order]
        out += [(int(i), float(s))
                for i, s in zip(ids[n:].astype(np.int64), scores[n:])]
        return out[:k]

    def topk_phrase_boosted(self, terms: list[str], k: int = 10,
                            pf_weight: float = 2.0, slop: int = 0,
                            field: str = "code.content") -> list[tuple[int, float]]:
        """Solr edismax ``pf=`` analog: the ordinary bag-of-words BM25
        ranking over the query terms, plus an additive phrase bonus —
        docs containing the FULL query as consecutive tokens get
        ``pf_weight × Σ_t idf_t`` added before the cut, so exact-phrase
        hits float to the top but partial matches still rank. The bonus
        is idf-scaled (rare phrases boost more) and document-length
        independent, which keeps it engine-reproducible (no second
        tf-normalization to disagree on). ``slop`` is Solr's ``ps=``:
        with slop > 0 the bonus goes to docs whose terms fit a
        minimum covering window of ≤ (n_terms − 1 + slop) positions
        (the unordered proximity reading every dedicated ``~N``
        surface here uses), exact adjacency when 0.

        Requires ``build_index(..., positions=True)``; phrase
        verification is the positions-only check of
        :func:`ftidx.positions.phrase_docs` /
        :func:`~ftidx.positions.near_docs`, scoring reuses the warm
        term cache — one cache probe per term, no Spark job."""
        from ftidx.positions import near_docs, phrase_docs

        if slop < 0:
            raise ValueError("slop must be >= 0")
        if k <= 0 or not terms:
            return []
        lists, avgdl = self._term_lists(terms, field)
        if not lists:
            return []
        ids, scores, _ = score_all(lists, avgdl)
        by_term = self._positions_by_term(sorted(set(terms)), field)
        if slop > 0:
            pdocs = near_docs(by_term, list(terms),
                              window=len(terms) - 1 + slop)
        else:
            pdocs = phrase_docs(by_term, list(terms))
        if pdocs.size:
            bonus = pf_weight * float(sum(tl.idf for tl in lists))
            scores = scores + bonus * np.isin(ids.astype(np.int64), pdocs)
        return self._live_topk(ids, scores, k)

    def near_topk(self, terms: list[str], window: int = 5, k: int = 10,
                  field: str = "code.content") -> list[tuple[int, float]]:
        """Proximity BM25 top-k (Solr ``"a b"~N`` slop analog,
        unordered): docs where some occurrence of every term falls in
        a span of ≤ ``window`` token positions, ranked by BM25 sum.
        Same positional-scan + cached-postings-scoring shape as
        :meth:`phrase_topk`; verification is the exact
        minimum-covering-window check in :func:`ftidx.positions.near_docs`."""
        from ftidx.positions import near_docs

        if k <= 0 or not terms:
            return []
        by_term = self._positions_by_term(sorted(set(terms)), field)
        docs = near_docs(by_term, list(terms), window)
        return self._bm25_over_docs(list(terms), field, docs, k)

    def topk_fields(self, terms: list[str],
                    fields: dict[str, float] | None = None,
                    k: int = 10, tie: float | None = None) -> list[tuple[int, float]]:
        """Multi-field weighted BM25 top-k (Solr edismax ``qf``:
        ``code.ident.split^2 code.content``): each field scores with
        its own idf/avgdl, the weight scales its contribution, docs
        sum across fields. Fields with no matching terms contribute
        nothing (a doc only matching the low-weight field still
        ranks). ``tie`` switches to dismax combination — best field +
        tie × the rest (Solr ``tie=``); ``tie=1.0`` equals the sum."""
        from ftidx.wand import score_dismax, score_weighted_fields

        fields = fields or {"code.content": 1.0, "code.ident.split": 2.0}
        triples = []
        for field, w in fields.items():
            lists, avgdl = self._term_lists(terms, field)
            if lists:
                triples.append((float(w), lists, avgdl))
        if not triples:
            return []
        tombs = self._tombstones
        if tie is not None:
            ids, scores = score_dismax(triples, k + len(tombs), tie=tie)
        else:
            ids, scores = score_weighted_fields(triples, k + len(tombs))
        return self._live_topk(ids, scores, k, tombs)

    def topk_where(self, terms: list[str], where: str, k: int = 10,
                   field: str = "code.content") -> DataFrame:
        """Filtered top-k (Solr ``fq`` analog): BM25 rank among docs
        matching the query terms AND a metadata predicate over the docs
        table (``"lang = 'python' AND NOT deleted"``). The filter
        applies BEFORE the top-k cut — a doc outside the predicate
        never displaces one inside it.

        Scale shape: per-bucket scoring inside executors (every
        matching doc, no per-bucket cut — the predicate could eliminate
        any prefix), id-keyed join against the predicate-filtered docs
        table (the filter pushes into the parquet scan), global
        TakeOrderedAndProject."""
        scored = self._scored_df(terms, field)
        keep = (
            self.spark.read.parquet(str(self.path / "docs"))
            .filter(where).select("doc_id")
        )
        return (
            scored.join(keep, "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        )

    def topk_boosted(self, terms: list[str], boost_expr: str, k: int = 10,
                     field: str = "code.content",
                     mode: str = "add") -> DataFrame:
        """Function boost over stored metadata columns (e.g.
        ``0.1 * ln(1 + n_chars)`` or a recency decay over
        ``modified``). ``mode="add"`` is Solr ``bf=`` (final = BM25 +
        boost); ``mode="mult"`` is edismax ``boost=`` (final = BM25 ×
        boost — the multiplicative form Solr recommends for recency/
        quality weighting because it scales with relevance instead of
        drowning it). The canonical use: keep relevance but nudge
        fresher / richer docs up.

        Scale shape: the distributed per-bucket scorer produces
        (doc_id, score); the boost is a codegen'd column expression
        over an id-keyed join with the docs table (both sides
        bucket-partitioned, column-pruned to doc_id + the expr's
        inputs), and the cut is one global TakeOrderedAndProject —
        no driver materialization of the match set."""
        if mode not in ("add", "mult"):
            raise ValueError(f"mode must be 'add' or 'mult', got {mode!r}")
        scored = self._scored_df(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        combine = (F.col("score") + F.col("boost") if mode == "add"
                   else F.col("score") * F.col("boost"))
        return (
            scored.join(docs, "doc_id")
            .withColumn("boost", F.expr(boost_expr).cast("double"))
            .withColumn("final", combine)
            .orderBy(F.desc("final"), F.asc("doc_id")).limit(k)
            .select("doc_id", "score", "boost", "final")
        )

    def topk_funcquery(self, terms: list[str], fq: str, k: int = 10,
                       field: str = "code.content", mode: str = "add",
                       now_ms: int | None = None) -> DataFrame:
        """Solr function-query boost (``bf=recip(ms(NOW,modified),
        3.16e-11,1,1)`` — the actual Solr syntax, not raw SQL): parse
        via :mod:`ftidx.funcquery`, resolve the index-dependent
        functions against THIS index, and run the compiled expression
        through the :meth:`topk_boosted` engine. ``mode`` maps to
        ``bf=`` (add) / ``boost=`` (mult) exactly as there.

        Index/corpus-dependent functions and their resolution cost:

        * ``scale(x,lo,hi)`` — ONE aggregate over the docs table for
          x's corpus min/max, then pure arithmetic;
        * ``docfreq/idf/ttf(field,'t')``, ``maxdoc()``, ``numdocs()``
          — scalar literals from the stats/postings tables (the df
          scan is term-pruned, same shape as query scoring);
        * ``termfreq(field,'t')`` — a (doc_id, tf) frame decoded from
          that term's postings (bucket-parallel, term-pruned scan),
          left-joined onto the docs side of the boost join; missing
          docs coalesce to 0 like Lucene;
        * ``norm(field)`` — 1/sqrt(dl) from the doclen table.

        ``NOW`` needs an explicit ``now_ms`` (deterministic clocks
        only — a replayed query must produce the identical ranking)."""
        from ftidx import funcquery as FQ

        if mode not in ("add", "mult"):
            raise ValueError(f"mode must be 'add' or 'mult', got {mode!r}")
        prov = _FuncQueryProvider(self, field, now_ms)
        resolved = FQ.resolve(FQ.parse(fq), prov, now_ms)
        boost_sql = FQ.compile_spark(resolved, now_ms)
        scored = self._scored_df(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        for col_name, frame in prov.join_frames:
            docs = docs.join(frame, "doc_id", "left").withColumn(
                col_name, F.coalesce(F.col(col_name), F.lit(0.0)))
        combine = (F.col("score") + F.col("boost") if mode == "add"
                   else F.col("score") * F.col("boost"))
        return (
            scored.join(docs, "doc_id")
            .withColumn("boost", F.expr(boost_sql).cast("double"))
            .withColumn("final", combine)
            .orderBy(F.desc("final"), F.asc("doc_id")).limit(k)
            .select("doc_id", "score", "boost", "final")
        )

    def topk_frange(self, terms: list[str], func: str, k: int = 10,
                    l: float | None = None, u: float | None = None,
                    incl_l: bool = True, incl_u: bool = True,
                    field: str = "code.content",
                    now_ms: int | None = None) -> DataFrame:
        """Solr ``{!frange}`` filter query (FunctionRangeQParser):
        keep only match-set docs whose FUNCTION-QUERY value lies in
        the range — ``fq={!frange l=0 u=100}sum(...)`` semantics, with
        ``incl_l``/``incl_u`` mapping to Solr's ``incl``/``incu``
        bound-inclusivity flags. The function uses the same Solr
        syntax, resolution (scale/docfreq/termfreq/...) and compiled
        codegen expression as :meth:`topk_funcquery` — frange is the
        FILTER reading of a function query where bf= is the boost
        reading. Returns (doc_id, score, fval) ranked by BM25.

        Scale shape: the value is a codegen column over the docs scan
        (plus any termfreq join frames), the range predicate filters
        BEFORE the id-keyed join with the distributed scorer, and the
        cut is one global TakeOrderedAndProject — docs outside the
        range never reach the ranking."""
        from ftidx import funcquery as FQ

        if l is None and u is None:
            raise ValueError("frange needs l= and/or u=")
        prov = _FuncQueryProvider(self, field, now_ms)
        resolved = FQ.resolve(FQ.parse(func), prov, now_ms)
        val_sql = FQ.compile_spark(resolved, now_ms)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        for col_name, frame in prov.join_frames:
            docs = docs.join(frame, "doc_id", "left").withColumn(
                col_name, F.coalesce(F.col(col_name), F.lit(0.0)))
        val = F.expr(val_sql).cast("double")
        cond = F.lit(True)
        if l is not None:
            cond = cond & (val >= float(l) if incl_l else val > float(l))
        if u is not None:
            cond = cond & (val <= float(u) if incl_u else val < float(u))
        keep = (docs.withColumn("fval", val).filter(cond)
                .select("doc_id", "fval"))
        scored = self._scored_df(terms, field)
        return (scored.join(keep, "doc_id")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .select("doc_id", "score", "fval"))

    def topk_ltr(self, terms: list[str], model: dict[str, float],
                 k: int = 10, bm25_weight: float = 1.0,
                 field: str = "code.content") -> DataFrame:
        """Learning-to-rank scoring (Solr LTR module with a linear
        model): final = ``bm25_weight``·BM25 + Σ w_f·feature_f, each
        feature a SQL expression over STORED docs-table columns
        (``{"n_chars / 1000": 0.5, "lang = 'python'": 2.0}`` —
        booleans cast to 0/1). The shape every feature-based reranker
        reduces to once the model is linear; a nonlinear model plugs
        in the same way with the combination as one expression.

        Returns (doc_id, score, final) ordered by (final DESC, id).
        Scale shape: per-bucket BM25 inside executors, ONE id-keyed
        join against a docs scan pruned to exactly the columns the
        feature expressions reference, features and the combination
        all whole-stage codegen, global TakeOrderedAndProject — the
        feature extraction never runs on docs outside the match set."""
        scored = self._scored_df(terms, field)
        exprs = list(model)
        docs = self.spark.read.parquet(str(self.path / "docs")).select(
            "doc_id",
            *[F.expr(e).cast("double").alias(f"_f{i}")
              for i, e in enumerate(exprs)],
        )
        final = F.lit(float(bm25_weight)) * F.col("score")
        for i, e in enumerate(exprs):
            final = final + F.lit(float(model[e])) * F.coalesce(
                F.col(f"_f{i}"), F.lit(0.0))
        return (
            scored.join(docs, "doc_id")
            .withColumn("final", final)
            .orderBy(F.desc("final"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score", "final")
        )

    def explain(self, terms: list[str], doc_id: int,
                field: str = "code.content") -> dict:
        """Score decomposition (Solr ``debugQuery=true`` explain): how
        this doc's BM25 total breaks into per-term contributions —
        tf, global df, idf, dl and contrib per matched query term.
        Runs off the same driver term cache as :meth:`topk` (postings
        for the query terms are already resident after the search the
        user is debugging), so no Spark job: decode + one binary
        search per term."""
        lists, avgdl = self._term_lists(terms, field)
        out, total = [], 0.0
        n_docs, _ = self.stats.get(field, (0, 1.0))
        for tl in lists:
            ids, tfs, dls = tl.decode_all()
            pos = np.searchsorted(ids, doc_id) if ids.size else 0
            # streamed delta segments may interleave id ranges →
            # decode_all output is per-segment sorted, not globally;
            # fall back to a linear probe when the bsearch misses.
            hit = pos < ids.size and ids[pos] == doc_id
            if not hit:
                where = np.nonzero(ids == doc_id)[0]
                if where.size == 0:
                    continue
                pos = int(where[0])
            tf, dl = int(tfs[pos]), int(dls[pos])
            contrib = float(bm25_contrib(
                np.array([tf]), np.array([dl]), tl.idf, avgdl)[0])
            total += contrib
            out.append({"term": tl.term, "tf": tf, "df": tl.df,
                        "idf": round(tl.idf, 6), "dl": dl,
                        "contrib": round(contrib, 6)})
        return {"doc_id": int(doc_id), "field": field,
                "n_docs": n_docs, "avgdl": avgdl,
                "score": round(total, 6), "terms": out}

    def _global_idfs(self, terms: list[str], field: str) -> dict[str, float]:
        """{term: idf} for the ``terms`` present in ``field``, from the
        index's n_docs and each term's df summed over every segment
        (base + deltas) — one grouped aggregate, one Spark job. The
        idf source for every per-bucket scorer."""
        n_docs, _ = self.stats.get(field, (0, 1.0))
        return {
            r["term"]: bm25_idf(n_docs, int(r["df_global"]))
            for r in self._postings.filter(
                (F.col("field") == field) & F.col("term").isin(terms))
            .groupBy("term").agg(F.sum("df").alias("df_global")).collect()
        }

    def _scored_df(self, terms: list[str], field: str,
                   idfs: dict[str, float] | None = None,
                   avgdl: float | None = None, k: int | None = None,
                   mode: str = "or", exclude: list[str] | None = None,
                   min_match: int | None = None) -> DataFrame:
        """Distributed BM25 scoring: (doc_id, score) with tombstones
        dropped. Per-bucket scoring inside executors via applyInPandas —
        globally valid because one bucket owns all of a doc's postings
        rows, so the per-bucket conjunction (``mode="and"``), exclusion
        and match count (``min_match``) equal the global ones. With
        ``k`` each bucket returns its own top-k (MaxScore-pruned for
        plain OR) — :meth:`topk_distributed`; without it, every
        matching doc — the shared engine under :meth:`topk_where`,
        :meth:`topk_grouped` and :meth:`search_sorted`.

        ``idfs``/``avgdl`` override the index's own statistics —
        FtShards passes GLOBAL values here so every shard of a
        distributed deployment scores on the same idf/avgdl
        (SolrCloud ExactStatsCache semantics); when None the local
        statistics are used."""
        qterms = sorted(set(terms))
        xterms = sorted(set(exclude or []))
        prows = self._postings.filter(
            (F.col("field") == field) & F.col("term").isin(qterms + xterms)
        )
        if avgdl is None:
            _, avgdl = self.stats.get(field, (0, 1.0))
        if idfs is None:
            idfs = self._global_idfs(qterms + xterms, field)
        tombs = self._tombstones
        floor = len(qterms) if mode == "and" else (min_match or 1)
        pruned = k is not None and floor <= 1 and not xterms
        qset, xset = set(qterms), set(xterms)

        def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            lists, xlists = [], []
            for term, grp in pdf.groupby("term", sort=True):
                tl = TermList(term, grp.to_dict("records"), idfs[term])
                if term in qset:
                    lists.append(tl)
                if term in xset:
                    xlists.append(tl)
            if pruned:
                ids, scores = score_block_max(lists, avgdl, k + len(tombs))
            else:
                ids, scores = filter_matches(*score_all(lists, avgdl),
                                             floor=floor, exclude_lists=xlists)
            ids, scores = _drop_tombstones(ids, scores, tombs)
            if k is not None:
                ids, scores = _topk_from_scores(ids, scores, k)
            return pd.DataFrame({"doc_id": ids.astype(np.int64),
                                 "score": scores})

        return prows.groupBy("bucket").applyInPandas(
            score_bucket, schema="doc_id long, score double")

    def _term_scored_df(self, terms: list[str], field: str,
                        idfs: dict[str, float] | None = None,
                        avgdl: float | None = None) -> DataFrame:
        """Per-term distributed scoring: (doc_id, term, contrib) for
        every (matching doc, query term) pair, tombstones dropped —
        the un-aggregated sibling of :meth:`_scored_df`, needed by
        scorers that combine PER TERM across fields (edismax's
        DisjunctionMaxQuery is per query clause, not per field
        total). Duplicate (doc, term) rows from delta segments sum
        inside the kernel, so downstream max/sum combinations see one
        row per pair. ``idfs``/``avgdl`` override the local statistics
        (FtShards passes GLOBAL values, like :meth:`_scored_df`)."""
        qterms = sorted(set(terms))
        prows = self._postings.filter(
            (F.col("field") == field) & F.col("term").isin(qterms)
        )
        if avgdl is None:
            _, avgdl = self.stats.get(field, (0, 1.0))
        if idfs is None:
            idfs = self._global_idfs(qterms, field)
        tombs = self._tombstones

        def score_terms(pdf: pd.DataFrame) -> pd.DataFrame:
            parts = []
            for term, grp in pdf.groupby("term", sort=True):
                tl = TermList(term, grp.to_dict("records"), idfs[term])
                ids, contrib = _drop_tombstones(
                    *score_all([tl], avgdl)[:2], tombs)
                parts.append(pd.DataFrame({"doc_id": ids.astype(np.int64),
                                           "term": term, "contrib": contrib}))
            if not parts:
                return pd.DataFrame({
                    "doc_id": pd.Series(dtype="int64"),
                    "term": pd.Series(dtype="object"),
                    "contrib": pd.Series(dtype="float64")})
            return pd.concat(parts, ignore_index=True)

        return prows.groupBy("bucket").applyInPandas(
            score_terms, schema="doc_id long, term string, contrib double")

    def edismax(self, terms: list[str],
                qf: dict[str, float] | None = None, k: int = 10,
                tie: float = 0.0, mm: int = 0,
                bq: dict[str, float] | None = None,
                bf: str | None = None,
                boost: str | None = None) -> DataFrame:
        """The COMPOSED edismax query (Solr ``defType=edismax`` with
        ``qf`` + ``tie`` + ``mm`` + ``bq`` + ``bf`` + ``boost`` in ONE
        request — the dedicated methods :meth:`topk_fields`,
        :meth:`topk_boost_query`, :meth:`topk_boosted` each cover one
        parameter; real Solr requests combine them):

        - per query term, dismax across the ``qf`` fields (each scored
          with its own idf/avgdl, scaled by its weight):
          ``max + tie·(sum − max)`` — Lucene's DisjunctionMaxQuery is
          per clause, which is why this needs the per-term frame, not
          field totals;
        - ``mm``: keep docs matching at least ``mm`` distinct query
          terms in ANY field (minimum-should-match over the main
          clauses);
        - ``bq``: additive optional clauses — ``Σ w·BM25(t)`` over the
          FIRST qf field, boosting docs in the main match set (the
          main query is the required clause: a doc matching only a
          boost term does not surface — exactly ``+main bq``);
        - ``bf``: additive function over stored columns;
        - ``boost``: multiplicative function (applied last).

        Returns (doc_id, score, final) — ``score`` the dismax base,
        ``final`` after boosts — ordered (final DESC, doc_id ASC).

        Scale shape: one per-bucket kernel per qf field (executor-side
        scoring), the per-term combine and the mm count are one
        doc_id+term-keyed aggregation, bq/bf/boost are id-keyed
        column-pruned joins, and the cut is one global
        TakeOrderedAndProject. Nothing corpus-sized crosses a single
        partition."""
        qf = qf or {"code.content": 1.0}
        fields = sorted(qf)
        uni = None
        for f in fields:
            fr = self._term_scored_df(terms, f).withColumn(
                "wc", F.lit(float(qf[f])) * F.col("contrib"))
            uni = fr if uni is None else uni.unionByName(fr)
        per_term = (
            uni.groupBy("doc_id", "term")
            .agg(F.max("wc").alias("mx"), F.sum("wc").alias("sm"))
            .withColumn("tscore", F.col("mx") + F.lit(float(tie)) *
                        (F.col("sm") - F.col("mx")))
        )
        base = per_term.groupBy("doc_id").agg(
            F.sum("tscore").alias("score"),
            F.count(F.lit(1)).alias("n_matched"))
        if mm > 0:
            base = base.filter(F.col("n_matched") >= mm)
        final = F.col("score")
        if bq:
            bq_scored = None
            for t in sorted(bq):
                fr = self._term_scored_df([t], fields[0]).withColumn(
                    "wc", F.lit(float(bq[t])) * F.col("contrib"))
                bq_scored = fr if bq_scored is None \
                    else bq_scored.unionByName(fr)
            bq_sum = bq_scored.groupBy("doc_id").agg(
                F.sum("wc").alias("bq_score"))
            base = base.join(bq_sum, "doc_id", "left")
            final = final + F.coalesce(F.col("bq_score"), F.lit(0.0))
        if bf is not None or boost is not None:
            docs = self.spark.read.parquet(str(self.path / "docs"))
            base = base.join(docs, "doc_id")
            if bf is not None:
                final = final + F.expr(bf).cast("double")
            if boost is not None:
                final = final * F.expr(boost).cast("double")
        return (
            base.withColumn("final", final)
            .orderBy(F.desc("final"), F.asc("doc_id")).limit(k)
            .select("doc_id", "score", "final")
        )

    def topk_grouped(self, terms: list[str], group_col: str = "lang",
                     k_groups: int = 10, group_limit: int = 1,
                     field: str = "code.content") -> DataFrame:
        """Field collapse (Solr ``group.field`` / ``collapse`` analog):
        within each value of a docs-table column, keep the
        ``group_limit`` best-scoring matches, then return the top
        ``k_groups`` groups ordered by their best doc's score.

        Returns (group value, rank-in-group, doc_id, score). Scale
        shape: the per-bucket scored set joins the docs table id-keyed
        (only ``doc_id`` + ``group_col`` read — column-pruned scan),
        the within-group cut is one window over data partitioned by
        the group column, and the group ordering is a
        TakeOrderedAndProject on the post-cut (≤ groups×limit) rows."""
        from pyspark.sql import Window

        scored = self._scored_df(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs")).select(
            "doc_id", F.col(group_col).alias("group_value"))
        within = Window.partitionBy("group_value").orderBy(
            F.desc("score"), F.asc("doc_id"))
        best = (
            scored.join(docs, "doc_id")
            .withColumn("group_rank", F.row_number().over(within))
            .filter(F.col("group_rank") <= group_limit)
        )
        head = Window.partitionBy("group_value")
        return (
            best.withColumn("best_score", F.max("score").over(head))
            .orderBy(F.desc("best_score"), F.asc("group_value"),
                     F.asc("group_rank"))
            .limit(k_groups * group_limit)
            .select("group_value", "group_rank", "doc_id", "score")
        )

    def expand_topk(self, terms: list[str], group_col: str = "lang",
                    k: int = 10, expand_rows: int = 2,
                    field: str = "code.content") -> DataFrame:
        """Collapse + expand (Solr ``{!collapse field=...}`` +
        ExpandComponent ``expand=true&expand.rows=N``): the main hit
        page is the top-``k`` group REPRESENTATIVES — each group
        collapsed to its best (score DESC, doc_id ASC) member, the
        representatives ranked globally like any other hit page — and
        for every group on the page the expanded section carries its
        next ``expand_rows`` best members, so a UI can show "more from
        this repo/lang" under each hit without a second query.

        Differs from :meth:`topk_grouped` (grouped display: groups
        ranked by head, N members each) exactly the way Solr's expand
        differs from result grouping: here the main list IS a flat
        collapsed page (``hit_rank`` is a global rank), and the
        expansion is a separate section keyed back to it — the two
        Solr response sections flattened into one frame.

        Returns (hit_rank, group_value, section, member_rank, doc_id,
        score): ``section``="hit" rows are the collapsed page
        (member_rank 0); "expand" rows its per-group expansion,
        member_rank 1..expand_rows in within-group score order.

        Scale shape: the within-group rank is ONE window partitioned
        by the group column (never global); only the one-row-per-group
        survivors reach the global cut, which is
        orderBy().limit(k) → TakeOrderedAndProject (the hit_rank
        window then ranks ≤ k rows); the k chosen groups broadcast
        back onto the member rows, so the expand section costs one
        broadcast-hash semi-join over the match set — no re-query, no
        corpus-sized window."""
        from pyspark.sql import Window

        scored = self._scored_df(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs")).select(
            "doc_id", F.col(group_col).alias("group_value"))
        within = Window.partitionBy("group_value").orderBy(
            F.desc("score"), F.asc("doc_id"))
        ranked = scored.join(docs, "doc_id").withColumn(
            "rn", F.row_number().over(within))
        head = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        page = (
            ranked.filter(F.col("rn") == 1)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .withColumn("hit_rank", F.row_number().over(head))
        )
        hits = page.select(
            "hit_rank", "group_value", F.lit("hit").alias("section"),
            F.lit(0).alias("member_rank"), "doc_id", "score")
        expand = (
            ranked.filter(
                (F.col("rn") >= 2) & (F.col("rn") <= expand_rows + 1))
            .join(F.broadcast(page.select("group_value", "hit_rank")),
                  "group_value")
            .select("hit_rank", "group_value",
                    F.lit("expand").alias("section"),
                    (F.col("rn") - 1).alias("member_rank"),
                    "doc_id", "score")
        )
        return hits.unionByName(expand)

    def parent_topk(self, terms: list[str], parent_col: str = "repo",
                    score_mode: str = "max", k: int = 10,
                    field: str = "code.content") -> DataFrame:
        """Block join to parent (Solr ``{!parent which=...}`` /
        ToParentBlockJoinQuery ``score=max|total|avg|min``): rank
        parent entities — here any docs-table column that groups
        children, e.g. ``repo`` for "which repositories best match
        this query" — by an aggregate of their matching children's
        BM25 scores, plus the matched-child count.

        Unlike :meth:`topk_grouped` (collapse: groups ranked by best
        member, members returned) this returns ONE row per parent with
        the aggregated score — the Lucene parent-scope ranking.

        Returns (parent, n_children, score). Scale shape: per-bucket
        child scoring inside executors, an id-keyed join against a
        (doc_id, parent) column-pruned docs scan, one map-side-
        combinable groupBy(parent) agg (max/sum/avg/min/count all
        combine), and a global TakeOrderedAndProject cut — parents
        never exceed docs, so the agg output is bounded by the match
        set."""
        aggs = {"max": F.max, "total": F.sum, "avg": F.avg, "min": F.min}
        if score_mode not in aggs:
            raise ValueError(f"score_mode must be one of {sorted(aggs)}")
        scored = self._scored_df(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs")).select(
            "doc_id", F.col(parent_col).alias("parent"))
        return (
            scored.join(docs, "doc_id")
            .groupBy("parent")
            .agg(F.count(F.lit(1)).alias("n_children"),
                 aggs[score_mode]("score").alias("score"))
            .orderBy(F.desc("score"), F.asc("parent"))
            .limit(k)
        )

    def child_topk(self, terms: list[str], parent_col: str = "repo",
                   score_mode: str = "max", k: int = 20,
                   field: str = "code.content") -> DataFrame:
        """Block join to children (Solr ``{!child of=...}`` /
        ToChildBlockJoinQuery — the inverse of :meth:`parent_topk`):
        the query matches at PARENT granularity (the parent's score is
        the ``score_mode`` aggregate of its matching members), and the
        result is every member doc of the matching parents, each
        carrying its parent's score — "give me all files of the repos
        that match this query". Lucene's ToChildBlockJoinQuery assigns
        each child its parent's score the same way.

        Returns (doc_id, parent, n_hits, score) ordered (score DESC,
        parent ASC, doc_id ASC) — ``n_hits`` the parent's matching-
        member count, ``score`` the parent aggregate. Scale shape: the
        parent aggregate is map-side combinable and bounded by the
        match set; the expansion back to members is one id-keyed join
        of the (small) parent frame broadcast against the docs table's
        column-pruned (doc_id, parent) scan; the cut is one global
        TakeOrderedAndProject."""
        aggs = {"max": F.max, "total": F.sum, "avg": F.avg, "min": F.min}
        if score_mode not in aggs:
            raise ValueError(f"score_mode must be one of {sorted(aggs)}")
        scored = self._scored_df(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs")).select(
            "doc_id", F.col(parent_col).alias("parent"))
        parents = (
            scored.join(docs, "doc_id")
            .groupBy("parent")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 aggs[score_mode]("score").alias("score"))
        )
        return (
            docs.join(F.broadcast(parents), "parent")
            .orderBy(F.desc("score"), F.asc("parent"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "parent", "n_hits", "score")
        )

    def search_sorted(self, terms: list[str], sort_col: str,
                      ascending: bool = True, start: int = 0,
                      rows: int = 10,
                      field: str = "code.content") -> DataFrame:
        """Solr ``sort=<col> asc/desc&start=&rows=`` analog: the match
        set ordered by a docs-table column (score DESC then id ASC as
        tiebreakers — fully deterministic), one page returned.

        ``sort_col`` accepts any SQL expression over docs-table columns
        (Solr sort-by-function: ``"length(path)"``, ``"n_chars % 100"``)
        — the expression stays a codegen'd projection, column pruning
        follows its references.

        Returns (doc_id, sort value, score). Deep paging note: this is
        offset paging; at 10^12 docs a crawler should cursor by the
        last (sort_value, doc_id) tuple instead (add a
        ``WHERE (sort_value, doc_id) > (...)`` via :meth:`topk_where`)
        — offset N still scores all matches but only ships start+rows
        rows to the driver via the global TakeOrdered."""
        scored = self._scored_df(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs")).select(
            "doc_id", F.expr(sort_col).alias("sort_value"))
        key = F.asc("sort_value") if ascending else F.desc("sort_value")
        return (
            scored.join(docs, "doc_id")
            .orderBy(key, F.desc("score"), F.asc("doc_id"))
            .offset(start).limit(rows)
            .select("doc_id", "sort_value", "score")
        )

    def search_after(self, terms: list[str], sort_col: str,
                     after: tuple | None = None, ascending: bool = True,
                     rows: int = 10,
                     field: str = "code.content") -> DataFrame:
        """Solr ``cursorMark`` analog — keyset deep paging. ``after``
        is the full sort tuple of the previous page's LAST row,
        ``(sort_value, score, doc_id)`` (None = first page); the page
        is every match strictly beyond it in ``(sort_value asc/desc,
        score DESC, doc_id ASC)`` order.

        Why this exists next to :meth:`search_sorted`: offset paging
        ranks ``start + rows`` rows per page — page 10^5 of a corpus
        crawl re-ranks a million rows, and a concurrent upsert shifts
        rows so pages skip or repeat docs. The keyset predicate is
        applied BEFORE the global TakeOrdered, so every page is the
        same O(matches) scan + O(rows) heap regardless of depth, and a
        doc is visited exactly once even if the index is rewritten
        between pages (Solr documents the same guarantee for
        cursorMark vs start=). The score component is float64 compared
        for exact equality — safe because the cursor is a value the
        engine itself emitted (same bits round-trip through the
        driver; the HTTP tier ships it as ``float.hex``)."""
        scored = self._scored_df(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs")).select(
            "doc_id", F.expr(sort_col).alias("sort_value"))
        j = scored.join(docs, "doc_id")
        if after is not None:
            sv, sc, did = after
            svc, scc, idc = (F.col("sort_value"), F.col("score"),
                             F.col("doc_id"))
            beyond = (svc > F.lit(sv)) if ascending else (svc < F.lit(sv))
            j = j.filter(
                beyond | ((svc == F.lit(sv))
                          & ((scc < F.lit(sc))
                             | ((scc == F.lit(sc)) & (idc > F.lit(did)))))
            )
        key = F.asc("sort_value") if ascending else F.desc("sort_value")
        return (
            j.orderBy(key, F.desc("score"), F.asc("doc_id"))
            .limit(rows)
            .select("doc_id", "sort_value", "score")
        )

    def topk_queries(self, queries: dict[str, list[str]], k: int = 10,
                     field: str = "code.content"
                     ) -> dict[str, list[tuple[int, float]]]:
        """Solr ``group.query`` analog: the top-k ranking for EACH
        labeled subquery in one call — ``{"defs": ["def"], "loops":
        ["for", "while"]}`` → one ranked list per label. All labels'
        terms are fetched in ONE postings job (:meth:`topk_batch`'s
        union prefetch), then each label scores from the warm cache —
        a dashboard with N query tiles costs one scan, not N."""
        labels = list(queries)
        results = self.topk_batch([queries[la] for la in labels],
                                  k=k, field=field)
        return dict(zip(labels, results))

    def export(self, terms: list[str], sort: str, fl: list[str],
               field: str = "code.content") -> DataFrame:
        """Solr ExportHandler (``/export``): the FULL match set —
        never a page — ordered by ``sort`` and projected to ``fl``,
        as a DataFrame the caller streams (``toLocalIterator``) or
        writes back out (the 10^12-row path: ``.write.parquet``, a
        distributed sorted export with no driver materialization).
        The unsorted bulk sibling is :meth:`export_matches` (straight
        to a parquet sink, no sort stage at all).

        ``sort`` is Solr's ``"col asc, col2 desc"`` (expressions over
        docs-table columns allowed, Solr sort-by-function); ``doc_id``
        ASC is always the final tiebreak so the stream order is total.
        Both ``sort`` and ``fl`` are REQUIRED — exactly Solr's /export
        contract (it refuses without them). Tombstones are excluded.

        Plan shape: the match set decodes executor-side
        (:meth:`_matched_ids`), one id-keyed join against the
        column-pruned docs table (only fl + sort references are read),
        then ONE range-partitioned total sort — ``orderBy`` here is
        Spark's sampled-range exchange, each partition sorts in
        parallel; never a single-partition window."""
        if not fl:
            raise ValueError("export requires fl= (Solr /export "
                             "contract)")
        keys = _parse_sort_keys(sort)
        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        return (
            docs.join(matched, "doc_id")
            .orderBy(*keys, F.asc("doc_id"))
            .select(*fl)
        )

    def match_stats(self, terms: list[str], stat_col: str = "lang",
                    field: str = "code.content",
                    cardinality: bool = False, rsd: float = 0.01) -> DataFrame:
        """Solr stats-component analog: aggregate a docs-table column —
        or any SQL expression over docs-table columns (Solr stats on a
        function query: ``"n_chars % 100"``) — over the query's
        matching docs (count distinct values, min/max for orderable
        values). Same distributed shape as :meth:`facet_counts` —
        executor-side id decode, id-keyed join (tombstones excluded,
        consistent with every other match-set surface).

        ``cardinality=True`` adds Solr's ``cardinality=`` (HLL) column:
        ``approx_count_distinct`` at relative error ``rsd``. Exact
        count-distinct shuffles every distinct value; the HLL sketch is
        a few KB per partition and map-side combinable — at 10^12 docs
        with a high-cardinality column (e.g. ``commit``) the sketch is
        the only viable path, which is exactly why Solr ships it."""
        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        c = F.expr(stat_col)
        aggs = [
            F.count(F.lit(1)).alias("n_matched"),
            F.count_distinct(c).alias("n_values"),
            F.min(c).alias("min_value"),
            F.max(c).alias("max_value"),
        ]
        if cardinality:
            aggs.append(F.approx_count_distinct(c, rsd=rsd)
                        .alias("cardinality"))
        return docs.join(matched, "doc_id").agg(*aggs)

    def fuzzy_terms(self, term: str, field: str = "code.content",
                    max_dist: int = 1, limit: int = 10) -> list[tuple[str, int, int]]:
        """Fuzzy term expansion (Solr ``term~`` analog): vocabulary
        terms within ``max_dist`` edits, ranked (distance ASC, df DESC,
        term ASC). Returns (term, df_global, distance).

        Plan shape: the vocabulary scan reads only (term, df) —
        column-pruned parquet — aggregates df per term (map-side
        combinable), prunes by the length band |len(t)−len(q)| ≤ d
        BEFORE the quadratic levenshtein, all JVM-side codegen. At
        10^12 docs the vocabulary is sublinear in the corpus and this
        is one cheap scan; compose the expansion with topk() to answer
        misspelled queries."""
        band = (F.length("term") >= len(term) - max_dist) & (
            F.length("term") <= len(term) + max_dist)
        # NOTE: transport pseudo-rows are keyed by FIELD prefix ("__dl__",
        # "__docs__"); the field-equality predicate excludes them. Never
        # filter on a term prefix here — "__init__" is a real code token.
        vocab = (
            self._postings.filter(F.col("field") == field)
            .groupBy("term").agg(F.sum("df").alias("df"))
            .filter(band)
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(term)))
            .filter(F.col("dist") <= max_dist)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(limit)
        )
        return [(r["term"], int(r["df"]), int(r["dist"])) for r in vocab.collect()]

    def phonetic_terms(self, term: str, field: str = "code.content",
                       limit: int = 50) -> list[tuple[str, int]]:
        """Phonetic term expansion (Solr PhoneticFilterFactory with the
        Soundex encoder): vocabulary terms sharing the query term's
        soundex code — "smith" matches "smyth"/"smithe" — ranked
        (df DESC, term ASC), capped at ``limit`` (the multi-term
        expansion cap the fuzzy/wildcard paths use). Returns
        (term, df_global). Non-alphabetic query terms (soundex is
        undefined for them) return [].

        Plan shape: one column-pruned (term, df) vocabulary scan with
        a codegen ``soundex()`` equality — same sublinear-vocab cost
        as :meth:`fuzzy_terms`, no posting blob is touched."""
        import re as _re

        if not _re.match(r"^[A-Za-z]", term or ""):
            return []
        vocab = (
            self._postings.filter(F.col("field") == field)
            .groupBy("term").agg(F.sum("df").alias("df"))
            .filter(F.soundex(F.col("term")) == F.soundex(F.lit(term)))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(limit)
        )
        return [(r["term"], int(r["df"])) for r in vocab.collect()]

    def stem_terms(self, term: str, field: str = "code.content",
                   limit: int = 50, algo: str = "porter") -> list[tuple[str, int]]:
        """Stemming term expansion (Solr PorterStemFilterFactory /
        EnglishMinimalStemFilterFactory semantics at query time):
        vocabulary terms whose stem equals the query term's stem —
        "merging" matches "merge"/"merges"/"merged" — ranked (df DESC,
        term ASC), capped at ``limit`` (the shared multi-term expansion
        cap). Returns (term, df_global).

        Plan shape: one column-pruned (term, df) vocabulary scan, the
        same sublinear-vocab cost as :meth:`fuzzy_terms` /
        :meth:`phonetic_terms`. ``algo='s'`` (Harman S stemmer) is a
        pure codegen CASE chain; ``algo='porter'`` runs the full Porter
        (1980) algorithm once per unique vocabulary term inside an
        Arrow kernel (ftidx/stem.py) — vocabulary-sized Python work,
        never corpus-sized."""
        from ftidx.stem import porter_stem, s_stem, s_stem_col, stem_tokens

        if not term:
            return []
        vocab = (
            self._postings.filter(F.col("field") == field)
            .groupBy("term").agg(F.sum("df").alias("df"))
        )
        if algo == "s":
            matched = vocab.filter(
                s_stem_col(F.col("term")) == F.lit(s_stem(term)))
        else:
            matched = (
                stem_tokens(vocab, col="term", algo=algo)
                .filter(F.col("stem") == F.lit(porter_stem(term)))
                .drop("stem")
            )
        rows = (matched.orderBy(F.desc("df"), F.asc("term"))
                .limit(limit).collect())
        return [(r["term"], int(r["df"])) for r in rows]

    def stem_topk(self, terms: list[str], k: int = 10,
                  field: str = "code.content", algo: str = "porter",
                  limit: int = 50) -> list[tuple[int, float]]:
        """Stemmed BM25 top-k: each query term scores as the synonym
        group of its stem class (every surface form sharing its stem),
        via :meth:`topk_synonyms` — tf summed across forms, idf from
        the merged df. This is the ranking an index-time stemmed field
        produces, with no reindex when the analyzer changes."""
        groups: dict[str, list[str]] = {}
        for t in terms:
            exp = [w for w, _ in self.stem_terms(
                t, field=field, limit=limit, algo=algo)]
            groups[t] = exp or [t]
        return self.topk_synonyms(groups, k=k, field=field)

    def wildcard_terms(self, pattern: str, field: str = "code.content",
                       limit: int = 50) -> list[tuple[str, int]]:
        """Wildcard term expansion (Lucene WildcardQuery, Solr
        ``pre*`` / ``t?rm``): vocabulary terms matching the pattern,
        where ``*`` spans any character run and ``?`` exactly one,
        ranked (df DESC, term ASC) and capped at ``limit`` (the
        MultiTermQuery top-terms-rewrite expansion cap; 50 mirrors the
        fuzzy path). Returns (term, df_global).

        Plan shape: the literal prefix before the first wildcard pushes
        into the parquet scan as a ``startswith`` range predicate on
        the dictionary-sorted term column — ``pre*`` never scans the
        vocabulary outside ``pre``'s range; the full pattern then
        applies as an anchored ``rlike``. Leading-wildcard patterns
        (``*foo``) are legal but scan the field's whole (term, df)
        projection — the posting blobs still never leave disk (Solr
        needs ReversedWildcardFilter for the same reason)."""
        if not pattern or not pattern.strip("*?"):
            return []  # pure-wildcard pattern: match-all is not a term query
        prefix = re.split(r"[*?]", pattern, maxsplit=1)[0]
        rx = "^" + "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
            for ch in pattern) + "$"
        # pseudo rows are FIELD-keyed; field equality excludes them (a
        # term-prefix filter would drop real dunder tokens like __init__)
        vocab = self._postings.filter(F.col("field") == field)
        if prefix:
            vocab = vocab.filter(F.col("term").startswith(prefix))
        vocab = (
            vocab.filter(F.col("term").rlike(rx))
            .groupBy("term").agg(F.sum("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(limit)
        )
        return [(r["term"], int(r["df"])) for r in vocab.collect()]

    def range_terms(self, lo: str | None, hi: str | None,
                    field: str = "code.content",
                    include_lo: bool = True, include_hi: bool = True,
                    limit: int = 1024) -> list[tuple[str, int]]:
        """Term-range expansion (Lucene TermRangeQuery, Solr
        ``field:[a TO b]`` / ``{a TO b}``): vocabulary terms in the
        lexicographic range, ordered term ASC, capped at ``limit``
        (Lucene's bitset rewrite is uncapped; a driver-side serving
        path needs a bound — unbounded range predicates over METADATA
        belong in :meth:`topk_where`, which stays distributed).
        ``None`` bounds are open (``[a TO *]``). Returns (term, df).

        Plan shape: both bounds push into the parquet scan as range
        predicates on the dictionary-sorted term column; only the
        (term, df) projection is read."""
        vocab = self._postings.filter(F.col("field") == field)
        if lo is not None:
            vocab = vocab.filter(F.col("term") >= lo if include_lo
                                 else F.col("term") > lo)
        if hi is not None:
            vocab = vocab.filter(F.col("term") <= hi if include_hi
                                 else F.col("term") < hi)
        vocab = (
            vocab.groupBy("term").agg(F.sum("df").alias("df"))
            .orderBy(F.asc("term")).limit(limit)
        )
        return [(r["term"], int(r["df"])) for r in vocab.collect()]

    def spellcheck(self, terms: list[str], field: str = "code.content",
                   max_dist: int = 2) -> dict:
        """Spellcheck component analog (Solr ``spellcheck.collate``):
        each query term present in the vocabulary maps to itself;
        absent terms map to their best fuzzy correction (distance ASC,
        df DESC, term ASC — :meth:`fuzzy_terms` ranking). Returns
        ``{"terms": [(term, correction, df, dist)], "collation":
        corrected query string, "changed": bool}``; an absent term with
        no correction within ``max_dist`` keeps itself with df=0 (the
        collation still runs, it just matches nothing — Solr's
        maxCollationTries=0 behavior).

        One vocabulary-scan job per UNKNOWN term only — known terms are
        answered from the cached per-term df lookup, so the common
        all-terms-correct case costs no job at all."""
        out = []
        changed = False
        for t in terms:
            rows = self._fetch_term_rows([t], field).get(t)
            if rows:
                out.append((t, t, int(sum(r["df"] for r in rows)), 0))
                continue
            cands = self.fuzzy_terms(t, field=field, max_dist=max_dist,
                                     limit=1)
            if cands:
                c, df, dist = cands[0]
                out.append((t, c, df, dist))
                changed = changed or c != t
            else:
                out.append((t, t, 0, 0))
        return {"terms": out,
                "collation": " ".join(c for _, c, _, _ in out),
                "changed": changed}

    def _vocab_dfs(self, terms: set[str],
                   field: str = "code.content") -> dict[str, int]:
        """Global df for an arbitrary term set: ONE column-pruned,
        isin-pushed vocabulary scan (posting blobs never read)."""
        if not terms:
            return {}
        rows = (self._postings.filter(F.col("field") == field)
                .filter(F.col("term").isin(sorted(terms)))
                .groupBy("term").agg(F.sum("df").alias("df")).collect())
        return {r["term"]: int(r["df"]) for r in rows}

    def spellcheck_wordbreak(self, terms: list[str],
                             field: str = "code.content",
                             min_part_len: int = 2,
                             limit: int = 3) -> dict:
        """WordBreakSolrSpellChecker analog: suggest BREAKING an
        unknown query term into two vocabulary words ("helloworld" →
        "hello world") and COMBINING adjacent query terms into one
        vocabulary word ("data base" → "database").

        Returns ``{"breaks": [(term, left, right, df_left, df_right)],
        "combines": [(a, b, joined, df)]}`` — breaks only for terms
        absent from the vocabulary, ranked per term by
        (min(df_left, df_right) DESC, split position ASC), ≤ ``limit``
        each; combines for every adjacent pair whose concatenation is
        indexed. Both halves of a break must be ≥ ``min_part_len``
        chars (Solr's minBreakLength).

        Cost shape: the query's originals, every split half and every
        adjacent join resolve in ONE isin-pushed vocabulary scan
        (:meth:`_vocab_dfs`) — candidate count is O(Σ term length),
        query-sized, never corpus-sized."""
        qs = [t.lower() for t in terms]
        dfs = self._vocab_dfs(
            wordbreak_candidates(qs, min_part_len), field)
        return assemble_wordbreak(qs, dfs, min_part_len, limit)

    def suggest_terms(self, prefix: str, field: str = "code.content",
                      limit: int = 10,
                      infix: bool = False) -> list[tuple[str, int]]:
        """Autocomplete (Solr suggester analog): vocabulary terms
        starting with ``prefix``, ranked (df DESC, term ASC). The
        startswith predicate pushes into the parquet scan as a range
        filter on the dictionary-sorted term column.

        ``infix=True`` is the AnalyzingInfixSuggester behavior: match
        the fragment ANYWHERE in the term ("serial" suggests
        "deserialize"), with prefix hits ranked above pure-infix hits
        at equal df — Lucene's infix suggester applies the same
        prefix-first preference. Costs a full vocab scan instead of a
        range-pruned one (contains can't push down), still
        column-pruned and posting-blob-free."""
        if not prefix:
            return []
        vocab = self._postings.filter(F.col("field") == field)
        if infix:
            vocab = vocab.filter(F.col("term").contains(prefix))
            pref_first = F.when(
                F.col("term").startswith(prefix), 0).otherwise(1)
            order = [F.asc(pref_first), F.desc("df"), F.asc("term")]
        else:
            vocab = vocab.filter(F.col("term").startswith(prefix))
            order = [F.desc("df"), F.asc("term")]
        vocab = (vocab.groupBy("term").agg(F.sum("df").alias("df"))
                 .orderBy(*order).limit(limit))
        return [(r["term"], int(r["df"])) for r in vocab.collect()]

    def terms_enum(self, field: str = "code.content",
                   prefix: str | None = None, regex: str | None = None,
                   mincount: int = 1, limit: int = 10,
                   sort: str = "count") -> list[tuple[str, int]]:
        """Vocabulary enumeration (Solr TermsComponent, ``/terms``):
        indexed terms with their global df, filtered by ``prefix``
        (terms.prefix) and/or ``regex`` (terms.regex), df ≥
        ``mincount`` (terms.mincount), ranked by df DESC (terms.sort=
        count, the default) or term ASC (terms.sort=index), truncated
        at ``limit``.

        Scale shape: a pruned parquet scan of the postings table's
        (field, term, df) columns — the posting blobs never leave disk
        (ReadSchema excludes them), the prefix predicate pushes down
        as a range filter on the dictionary-sorted term column, and
        the global df sum + top-limit cut are one map-side-combinable
        groupBy + TakeOrdered."""
        vocab = self._postings.filter(F.col("field") == field)
        if prefix:
            vocab = vocab.filter(F.col("term").startswith(prefix))
        if regex:
            vocab = vocab.filter(F.col("term").rlike(regex))
        vocab = (
            vocab.groupBy("term").agg(F.sum("df").alias("df"))
            .filter(F.col("df") >= mincount)
        )
        order = ([F.desc("df"), F.asc("term")] if sort == "count"
                 else [F.asc("term")])
        rows = vocab.orderBy(*order).limit(limit).collect()
        return [(r["term"], int(r["df"])) for r in rows]

    def topk_elevated(self, terms: list[str], elevate: list[int],
                      k: int = 10, field: str = "code.content",
                      exclude: list[int] | None = None,
                      mark_excludes: bool = False) -> list[dict]:
        """Query elevation (Solr QueryElevationComponent): the doc ids
        in ``elevate`` are pinned to the top of the result list in the
        given order — even when they match no query term (Solr
        forceElevation; such docs carry score 0.0) — and the organic
        BM25 ranking fills the remaining slots, elevated ids removed so
        nothing appears twice. Each hit dict carries ``elevated`` so a
        UI can badge pins, mirroring Solr's ``[elevated]`` transformer.

        Serving-path economics match :meth:`topk`: the organic ranking
        is the same cached-postings kernel (over-fetched by
        len(elevate) to keep k organic candidates), and each pinned
        doc's score is one binary-search probe of postings already
        resident in the term cache — no extra Spark job.

        ``exclude`` is elevate.xml's ``exclude="true"`` list: those ids
        drop from the results entirely (exclusion beats elevation when
        an id is in both, matching Solr). ``mark_excludes=True`` is the
        ``markExcludes`` param: excluded docs stay in the ranking but
        carry ``excluded: True`` (the ``[excluded]`` transformer) so a
        downstream editor can see what a live exclusion would remove.
        """
        excl = {int(d) for d in (exclude or [])}
        pins = [int(d) for d in dict.fromkeys(elevate)
                if int(d) not in self._tombstones and int(d) not in excl]
        over = len(pins) + (0 if mark_excludes else len(excl))
        organic = self.topk(terms, k=k + over, field=field)
        out = [{"doc_id": d,
                "score": self.explain(terms, d, field=field)["score"],
                "elevated": True} for d in pins]
        if excl:
            for h in out:
                h["excluded"] = False
        pinned = set(pins)
        for d, s in organic:
            if d in pinned:
                continue
            if d in excl and not mark_excludes:
                continue
            hit = {"doc_id": d, "score": s, "elevated": False}
            if excl:
                hit["excluded"] = d in excl
            out.append(hit)
        return out[:k]

    def join_topk(self, inner_terms: list[str], outer_terms: list[str],
                  k: int = 10, join_col: str = "repo",
                  field: str = "code.content",
                  from_index: "FtIndex | None" = None,
                  from_col: str | None = None) -> DataFrame:
        """Join query (Solr ``{!join from=f to=f}inner`` + outer
        query): rank docs matching ``outer_terms`` whose ``join_col``
        value is shared with at least one doc matching ``inner_terms``
        — e.g. "files mentioning 'scan' inside repos that contain a
        file mentioning 'deprecated'". Returns (doc_id, join_col,
        score) ordered by BM25 of the OUTER query.

        Cross-collection form (Solr ``{!join fromIndex=other
        from=f to=t}``): pass ``from_index`` to evaluate the inner
        query against ANOTHER FtIndex — its matches produce the key
        set via ``from_col`` (that index's column; defaults to
        ``join_col``), which filters THIS index's outer scoring on
        ``join_col``. ``from_index=None`` is the same-collection
        ``{!join}``.

        Scale shape: the inner match set decodes executor-side
        (:meth:`_matched_ids`) on whichever index owns it, reduces to
        DISTINCT join keys — the small side by construction
        (repos ≪ docs) — and broadcasts into a semi-join against the
        distributed outer scoring; the cut is one global
        TakeOrderedAndProject. No driver materialization of either
        match set, and the two indexes never co-shuffle: only the
        distinct-key frame crosses between them."""
        src = from_index if from_index is not None else self
        fcol = from_col if from_col is not None else join_col
        inner = src._matched_ids(inner_terms, field)
        fdocs = src.spark.read.parquet(str(src.path / "docs"))
        keys = (fdocs.join(inner, "doc_id")
                .select(F.col(fcol).alias(join_col)).distinct())
        docs = self.spark.read.parquet(str(self.path / "docs"))
        scored = self._scored_df(outer_terms, field)
        return (
            scored.join(docs.select("doc_id", join_col), "doc_id")
            .join(F.broadcast(keys), join_col)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .select("doc_id", join_col, "score")
        )

    def facet_counts(self, terms: list[str], facet: str = "lang",
                     field: str = "code.content", k_facets: int = 20,
                     prefix: str | None = None, sort: str = "count",
                     offset: int = 0, missing: bool = False) -> DataFrame:
        """Facet counts over the docs matching ANY query term (Solr's
        ``facet.field`` surface, with the full parameter set):
        ``prefix`` keeps only values starting with it (facet.prefix),
        ``sort`` is "count" (n_docs DESC, ties by value — Solr default)
        or "index" (lexicographic by value), ``offset``+``k_facets``
        page through the constraint list (facet.offset/facet.limit),
        and ``missing=True`` appends one row with value NULL counting
        matched docs whose facet field is NULL (facet.missing).

        Fully distributed: matching ids are decoded from the
        term-filtered postings inside executors (pushdown scan, no
        driver collect), then joined to the docs table's metadata
        column — at 10^12 docs the join is id-keyed against the
        bucket-partitioned docs table. The paging window runs over the
        post-aggregation constraint list (≤ facet cardinality rows),
        not the corpus."""
        from pyspark.sql import Window

        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        joined = docs.join(matched, "doc_id")
        base = joined.filter(F.col(facet).isNotNull())
        if prefix is not None:
            base = base.filter(F.col(facet).startswith(prefix))
        agg = (
            base.groupBy(F.col(facet).alias("value"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        if sort == "index":
            order = [F.asc("value")]
        else:
            order = [F.desc("n_docs"), F.asc("value")]
        # cut to the page FIRST (TakeOrderedAndProject over offset+k
        # rows), then rank the survivors — a bare row_number window
        # would drag every distinct facet value through one partition,
        # which a high-cardinality field turns into a real stall
        w = Window.orderBy(*order)
        out = (
            agg.orderBy(*order).limit(offset + k_facets)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > offset)
            .select("value", "n_docs")
        )
        if missing:
            miss = (
                joined.filter(F.col(facet).isNull())
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .select(F.lit(None).cast("string").alias("value"), "n_docs")
            )
            out = out.unionByName(miss)
        return out

    def _matched_ids(self, terms: list[str], field: str) -> DataFrame:
        """Distinct ids of docs matching ANY query term, tombstones
        dropped — decoded from the term-filtered postings INSIDE
        executors (pushdown scan, no driver collect). The shared match
        set under facets, range facets, stats and export."""
        qterms = sorted(set(terms))
        hit = self._postings.filter(
            (F.col("field") == field) & F.col("term").isin(qterms)
        ).select("doc_ids")

        def decode_ids(batches):
            from ftidx.codec import delta_decode, varint_decode

            for pdf in batches:
                for blob in pdf["doc_ids"]:
                    ids = delta_decode(varint_decode(blob)).astype(np.int64)
                    yield pd.DataFrame({"doc_id": ids})

        matched = hit.mapInPandas(decode_ids, schema="doc_id long").distinct()
        if self._tombstones:
            tomb = self.spark.createDataFrame(
                [(int(d),) for d in sorted(self._tombstones)], "doc_id long")
            matched = matched.join(F.broadcast(tomb), "doc_id", "left_anti")
        return matched

    def attach_vectors(self, source, id_col: str = "doc_id",
                       vec_col: str = "embedding") -> None:
        """Register a doc_id-keyed embedding table with this handle —
        the Solr 9 DenseVectorField analog (the vectors live beside
        the index; queries compose). ``source`` is a DataFrame or a
        parquet path; rows whose id has no indexed doc are allowed
        (they can never be returned — the tombstone/fq joins decide).
        Serving-side state only; nothing is written into the index
        directory."""
        df = (self.spark.read.parquet(source)
              if isinstance(source, str) else source)
        vecs = df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(vec_col).alias("embedding"))
        first = vecs.select("embedding").first()
        if first is None or first[0] is None:
            raise ValueError("attach_vectors: empty vector table")
        # dimension recorded once at attach (one tiny job) so a
        # mis-sized query vector is a 400-able ValueError instead of
        # NULL cosines from a silently padded zip_with
        self._vector_dim = len(first[0])
        self._vectors = vecs

    def knn(self, vector: list[float], k: int = 10,
            terms: list[str] | None = None,
            field: str = "code.content") -> DataFrame:
        """Solr ``{!knn f=vector topK=k}[…]`` — dense-vector top-k by
        cosine over the attached embedding table, composable with a
        term filter exactly like Solr's fq-composed knn (PRE-filtering
        semantics: the candidate set is restricted FIRST, then the k
        nearest of the survivors are returned — Solr 9.1+ knn with
        fq). Tombstoned docs never return. Returns (doc_id, cosine),
        round-5 cosine, (cosine DESC, doc_id ASC) tie discipline —
        TakeOrderedAndProject, never a global sort.

        Scale path: this is the exact brute-force baseline (one
        column-pruned scan of the vector table, codegen dot product).
        For 10^9+ vectors serve through :mod:`ftidx.ann`'s IVF/PQ
        indexes instead — same contract, cell-probed scan."""
        vectors = getattr(self, "_vectors", None)
        if vectors is None:
            raise ValueError(
                "no vectors attached — call attach_vectors(df_or_path)"
                " first (Solr: the field must be a DenseVectorField)")
        if k < 0:
            raise ValueError(f"k must be >= 0, got {k}")
        if len(vector) != self._vector_dim:
            raise ValueError(
                f"query vector has {len(vector)} dims, attached table "
                f"has {self._vector_dim}")
        from ftidx.ann import with_cosine

        cand = vectors
        if terms:
            cand = cand.join(self._matched_ids(terms, field), "doc_id")
        elif self._tombstones:
            tomb = self.spark.createDataFrame(
                [(int(d),) for d in sorted(self._tombstones)],
                "doc_id long")
            cand = cand.join(F.broadcast(tomb), "doc_id", "left_anti")
        return (
            with_cosine(cand, "embedding", [float(v) for v in vector])
            .select("doc_id", "cosine")
            .orderBy(F.desc("cosine"), F.asc("doc_id"))
            .limit(k)
        )

    def significant_terms(self, terms: list[str],
                          field: str = "code.content", limit: int = 20,
                          min_doc_freq: float = 5.0,
                          max_doc_freq: float = 0.3,
                          min_term_length: int = 1) -> DataFrame:
        """Significant terms of a query's result set (Solr
        ``significantTerms`` streaming source / ES
        ``significant_terms``): terms statistically overrepresented in
        the FOREGROUND (docs matching ANY query term, tombstones
        excluded) versus the BACKGROUND (the whole collection).

        Returns (term, fg_df, bg_df, score) — the top ``limit`` by
        (score DESC, term ASC), scored with JLH
        ``(fg% − bg%) · (fg% / bg%)`` rounded to 5 (the engine's
        cross-engine float grain). ``min_doc_freq`` / ``max_doc_freq``
        follow Solr's rule: values < 1.0 are a fraction of the
        collection size, values ≥ 1 are absolute document counts, both
        applied to the GLOBAL background df. Query terms themselves are
        not excluded (Solr parity — the max_doc_freq bound is what
        keeps stop-like terms out). Background dfs count not-yet-
        compacted tombstoned docs, exactly as Lucene df does until
        segments merge.

        Scale shape: the full-field postings scan is the honest cost
        (Solr walks the terms dict too) but ships COMPRESSED blobs, not
        exploded rows — candidate segments and the foreground id set
        are cogrouped by bucket (one shuffle each, the foreground's
        authoritative bucket resolved from doclen so streamed-delta
        hash ids route correctly), each kernel call intersects via one
        searchsorted, and only (term, count) pairs leave the executor;
        the reduce side is vocabulary-sized. The final cut is
        orderBy+limit — TakeOrderedAndProject, never a global sort."""
        agg, fg_n = self._sig_aggregates(terms, field, min_term_length)
        bg_n, _ = self.stats.get(field, (0, 1.0))
        if agg is None or fg_n == 0 or bg_n == 0:
            return self.spark.createDataFrame(
                [], "term string, fg_df long, bg_df long, score double")
        return _sig_score_cut(agg, fg_n, bg_n, limit,
                              min_doc_freq, max_doc_freq)

    def _sig_aggregates(self, terms: list[str], field: str,
                        min_term_length: int
                        ) -> tuple[DataFrame | None, int]:
        """:meth:`significant_terms`' per-collection aggregation —
        ((term, fg_df, bg_df) frame, fg_n), no bounds/score applied —
        factored out so :class:`ftidx.shards.FtShards` can sum these
        partials across shards and score with GLOBAL statistics (an
        EXACT distributed merge; Solr's distributed significantTerms
        merges per-shard top candidates and is approximate)."""
        fg = self._matched_ids(terms, field)
        bucket_src = [self.path / "doclen", self.path / "delta_doclen"]
        dl = None
        for d in bucket_src:
            if d.exists() and any(d.iterdir()):
                part = (self.spark.read.parquet(str(d))
                        .filter(F.col("field") == field)
                        .select("doc_id", "bucket"))
                dl = part if dl is None else dl.unionByName(part)
        if dl is None:
            return None, 0
        fgb = fg.join(dl, "doc_id").select("doc_id", "bucket").distinct()
        fg_n = fgb.count()
        posts = self._postings.filter(
            (F.col("field") == field)
            & (F.length("term") >= min_term_length)
        ).select("bucket", "term", "df", "doc_ids")

        def intersect(pdf: pd.DataFrame, fdf: pd.DataFrame) -> pd.DataFrame:
            from ftidx.codec import delta_decode, varint_decode

            if not len(pdf):
                return pd.DataFrame(
                    {"term": pd.Series([], dtype="object"),
                     "fg_c": pd.Series([], dtype="int64"),
                     "seg_df": pd.Series([], dtype="int64")})
            if not len(fdf):
                # a bucket with postings but NO foreground docs still
                # contributes its segment dfs to the BACKGROUND sums —
                # dropping them would undercount bg_df for any query
                # whose matches concentrate in few buckets (cogroup is
                # full-outer over keys, so this branch runs for every
                # foreground-free bucket); no blob decode needed
                return pd.DataFrame(
                    {"term": pdf["term"].astype("object"),
                     "fg_c": pd.Series(0, index=pdf.index,
                                       dtype="int64"),
                     "seg_df": pdf["df"].astype("int64")})
            ids = np.sort(fdf["doc_id"].to_numpy(np.uint64))
            t_out, c_out, d_out = [], [], []
            for term, seg_df, blob in zip(pdf["term"], pdf["df"],
                                          pdf["doc_ids"]):
                arr = delta_decode(varint_decode(blob))
                pos = np.searchsorted(ids, arr)
                ok = pos < ids.size
                ok[ok] = ids[pos[ok]] == arr[ok]
                t_out.append(term)
                c_out.append(int(ok.sum()))
                d_out.append(int(seg_df))
            return pd.DataFrame(
                {"term": pd.Series(t_out, dtype="object"),
                 "fg_c": pd.Series(c_out, dtype="int64"),
                 "seg_df": pd.Series(d_out, dtype="int64")})

        per_seg = (
            posts.groupBy("bucket")
            .cogroup(fgb.groupBy("bucket"))
            .applyInPandas(intersect,
                           schema="term string, fg_c long, seg_df long")
        )
        agg = per_seg.groupBy("term").agg(
            F.sum("fg_c").alias("fg_df"), F.sum("seg_df").alias("bg_df"))
        return agg, fg_n

    def facet_queries(self, queries: dict[str, list[str]],
                      field: str = "code.content") -> dict[str, int]:
        """Solr ``facet.query``: match count per labeled subquery
        (docs matching ANY of the label's terms), tombstones excluded.
        Serving path: decoded ids from the warm term cache, one set
        union per label — no Spark job. For labels whose vocabulary
        exceeds driver memory, count via the distributed match set
        instead (``_matched_ids(terms).count()``), same semantics."""
        out = {}
        for label, terms in queries.items():
            lists, _ = self._term_lists(terms, field)
            ids = {int(i) for tl in lists for i in tl.decode_all()[0]}
            out[label] = len(ids - self._tombstones)
        return out

    def facet_range(self, terms: list[str], facet: str = "n_chars",
                    start: float = 0, end: float = 1 << 30,
                    gap: float = 100, field: str = "code.content") -> DataFrame:
        """Range faceting (Solr ``facet.range``): matching docs
        histogrammed over a numeric docs-table column into
        ``[start, end)`` buckets of width ``gap``; returns
        (bucket_start, n_docs), empty buckets omitted (Solr's
        mincount=1). Same distributed match-set shape as
        :meth:`facet_counts`; the bucketing is one codegen'd floor
        expression, the histogram one map-side-combinable groupBy."""
        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        col = F.col(facet).cast("double")
        bucket_start = (F.floor((col - F.lit(float(start))) / F.lit(float(gap)))
                        * F.lit(float(gap)) + F.lit(float(start)))
        return (
            docs.join(matched, "doc_id")
            .filter((col >= float(start)) & (col < float(end)))
            .groupBy(bucket_start.alias("bucket_start"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.asc("bucket_start"))
        )

    def facet_range_other(self, terms: list[str], facet: str,
                          start, end, date: bool = False,
                          field: str = "code.content") -> dict:
        """Solr ``facet.range.other=all``: the three counts OUTSIDE
        and ACROSS the range grid — ``before`` (< start), ``after``
        (≥ end) and ``between`` (the whole [start, end) span) — over
        the query's match set. One pass, three conditional sums in a
        single aggregate (never three scans); NULL values count in
        none of the three, exactly Solr. ``date=True`` treats
        start/end as ISO datetimes over a timestamp column (validated
        driver-side like :meth:`facet_range_date`)."""
        if date:
            from datetime import datetime as _dt

            try:
                start = _dt.fromisoformat(str(start))
                end = _dt.fromisoformat(str(end))
            except ValueError as exc:
                raise ValueError(f"bad start/end date: {exc}") from None
            col = F.col(facet).cast("timestamp")
        else:
            start, end = float(start), float(end)
            col = F.col(facet).cast("double")
        if start >= end:
            raise ValueError(f"start {start!r} must precede end {end!r}")
        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        row = (
            docs.join(matched, "doc_id")
            .agg(
                F.coalesce(F.sum(F.when(col < F.lit(start), 1)),
                           F.lit(0)).alias("before"),
                F.coalesce(F.sum(F.when((col >= F.lit(start))
                                        & (col < F.lit(end)), 1)),
                           F.lit(0)).alias("between"),
                F.coalesce(F.sum(F.when(col >= F.lit(end), 1)),
                           F.lit(0)).alias("after"),
            ).collect()[0]
        )
        return {"before": int(row["before"]),
                "between": int(row["between"]),
                "after": int(row["after"])}

    _DATE_GAP_SECONDS = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600,
                         "DAY": 86400}

    def facet_range_date(self, terms: list[str], start: str, end: str,
                         gap: str, facet: str = "modified",
                         field: str = "code.content") -> DataFrame:
        """Date range faceting (Solr ``facet.range`` on a date field
        with date-math gaps: ``facet.range.gap=+7HOUR``, ``+1MONTH``):
        matching docs histogrammed into ``[start + i·gap,
        start + (i+1)·gap)`` buckets over a timestamp docs-table
        column. Returns (bucket_start timestamp, n_docs), empty
        buckets omitted (mincount=1, :meth:`facet_range`'s
        discipline), ordered by bucket.

        Gap arithmetic is Solr's, not truncation: buckets anchor at
        ``start`` (a ``+7HOUR`` gap from 05:00 bins at 05:00, 12:00,
        19:00 …). SECOND/MINUTE/HOUR/DAY gaps are fixed-width — one
        codegen floor over epoch seconds. MONTH/YEAR gaps are
        variable-width calendar steps — bucket i starts at
        ``add_months(start, i·n)`` exactly; the index is found by a
        months_between estimate corrected ±1 against the true
        add_months boundaries (months_between's 31-day fractional
        error is < one bucket step, so the guess is always within
        one). Everything stays a codegen expression + one
        grid-cardinality groupBy — :meth:`facet_range`'s scale
        shape."""
        base, bucket = self._date_bucket_base(terms, start, end, gap,
                                              facet=facet, field=field)
        return (
            base.groupBy(bucket.alias("bucket_start"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.asc("bucket_start"))
        )

    def _date_bucket_base(self, terms: list[str], start: str, end: str,
                          gap: str, facet: str = "modified",
                          field: str = "code.content"):
        """Shared Solr date-math bucketing: the match-set docs frame
        filtered to ``[start, end)`` on ``facet`` plus the bucket-start
        Column (``start + i·gap``). :meth:`facet_range_date` counts per
        bucket; the ``/stream`` ``timeseries()`` source aggregates
        arbitrary metrics over the same buckets. All codegen — the gap
        arithmetic (fixed-width epoch floor vs calendar add_months with
        the ±1 months_between correction) is documented on
        :meth:`facet_range_date`."""
        import re

        m = re.fullmatch(r"\+?(\d+)(SECOND|MINUTE|HOUR|DAY|MONTH|YEAR)S?",
                         gap.strip(), re.IGNORECASE)
        if not m:
            raise ValueError(
                f"bad gap {gap!r} — use Solr date math like +1DAY, "
                "+7HOUR, +2MONTH")
        n, unit = int(m.group(1)), m.group(2).upper()
        if n < 1:
            raise ValueError("gap must be at least 1 unit")
        from datetime import datetime as _dt

        # parse driver-side so a typo is a ValueError, not a NULL cast
        # that silently empties the filter (Solr 400s on bad dates)
        try:
            s_dt = _dt.fromisoformat(str(start))
            e_dt = _dt.fromisoformat(str(end))
        except ValueError as exc:
            raise ValueError(f"bad start/end date: {exc}") from None
        if s_dt >= e_dt:
            raise ValueError(f"start {start!r} must precede end {end!r}")
        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        col = F.col(facet).cast("timestamp")
        s_lit = F.lit(s_dt)
        e_lit = F.lit(e_dt)
        base = (docs.join(matched, "doc_id")
                .filter(col.isNotNull() & (col >= s_lit) & (col < e_lit)))
        if unit in self._DATE_GAP_SECONDS:
            step = n * self._DATE_GAP_SECONDS[unit]
            idx = F.floor((col.cast("long") - s_lit.cast("long"))
                          / F.lit(step))
            bucket = F.timestamp_seconds(
                s_lit.cast("long") + idx * F.lit(step))
        else:
            months = n * (12 if unit == "YEAR" else 1)
            guess = F.floor(F.months_between(col, s_lit)
                            / F.lit(float(months))).cast("int")
            # correct the 31-day-normalized estimate against the TRUE
            # calendar boundaries (always within ±1)
            # timestamp_add keeps the clock-time anchor and clamps
            # month-ends (Jan 31 +1MONTH → Feb 29) — Java Calendar
            # date math, i.e. exactly Solr's
            idx = (
                F.when(col >= F.timestamp_add("MONTH",
                                              (guess + 1) * months, s_lit),
                       guess + 1)
                .when(col < F.timestamp_add("MONTH", guess * months, s_lit),
                      guess - 1)
                .otherwise(guess)
            )
            bucket = F.timestamp_add("MONTH", idx * months, s_lit)
        return base, bucket

    def facet_interval(self, terms: list[str],
                       intervals: list[tuple[float, float, str]],
                       facet: str = "n_chars",
                       field: str = "code.content") -> DataFrame:
        """Interval faceting (Solr ``facet.interval`` with
        ``facet.interval.set=[lo,hi)``): match-set counts per
        user-defined ``[lo, hi)`` interval over a numeric docs-table
        column. Unlike :meth:`facet_range`'s uniform grid, intervals
        are arbitrary and MAY OVERLAP (Solr allows it) — so each is
        one conditional-sum aggregate over the same single pass, not a
        bucketing expression: N intervals cost one codegen'd projection
        with N counters, never N scans. Returns (label, n_docs) in the
        given interval order, zero-count intervals included (Solr
        semantics — intervals are explicit, not discovered)."""
        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        col = F.col(facet).cast("double")
        aggs = [
            F.coalesce(
                F.sum(F.when((col >= float(lo)) & (col < float(hi)), 1)),
                F.lit(0),
            ).alias(f"_i{i}")
            for i, (lo, hi, _) in enumerate(intervals)
        ]
        one = docs.join(matched, "doc_id").agg(*aggs)
        # unpivot via explode(array(struct)) — pure column API, so a
        # label is always a literal, never parsed SQL (labels arrive
        # from HTTP callers; selectExpr-interpolation would be an
        # expression-injection surface)
        pairs = F.array(*[
            F.struct(F.lit(label).alias("label"),
                     F.col(f"_i{i}").alias("n_docs"))
            for i, (_, _, label) in enumerate(intervals)
        ])
        return (one.select(F.explode(pairs).alias("kv"))
                .select("kv.label", "kv.n_docs"))

    def facet_nested(self, terms: list[str], facet: str = "lang",
                     sub_facet: str = "repo", k_buckets: int = 10,
                     k_sub: int = 2,
                     field: str = "code.content") -> DataFrame:
        """Nested subfacets (Solr JSON Facet API: a terms facet with a
        nested terms facet inside each bucket): the top ``k_buckets``
        values of ``facet`` over the match set, and within each bucket
        the top ``k_sub`` values of ``sub_facet`` with their counts.

        Returns (value, n_docs, sub_rank, sub_value, sub_n). Scale
        shape: ONE groupBy on the (facet, sub_facet) pair — never a
        per-bucket requery — then two windows over the aggregated
        constraint rows (≤ distinct pairs, corpus-independent): ranks
        partition by the facet value, so nothing goes global until the
        final ordering of ≤ k_buckets × k_sub rows."""
        from pyspark.sql import Window

        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        pairs = (
            docs.join(matched, "doc_id")
            .groupBy(F.col(facet).alias("value"),
                     F.col(sub_facet).alias("sub_value"))
            .agg(F.count(F.lit(1)).alias("sub_n"))
        )
        bucket_w = Window.partitionBy("value")
        sub_w = Window.partitionBy("value").orderBy(
            F.desc("sub_n"), F.asc("sub_value"))
        ranked = (
            pairs.withColumn("n_docs", F.sum("sub_n").over(bucket_w))
            .withColumn("sub_rank", F.row_number().over(sub_w))
            .filter(F.col("sub_rank") <= k_sub)
        )
        # same cut-first discipline as facet_counts: limit the head
        # frame to k_buckets before the ranking window touches it
        head_w = Window.orderBy(F.desc("n_docs"), F.asc("value"))
        heads = (
            ranked.filter(F.col("sub_rank") == 1)
            .select("value", "n_docs")
            .orderBy(F.desc("n_docs"), F.asc("value")).limit(k_buckets)
            .select("value", F.row_number().over(head_w).alias("bucket_rank"))
        )
        return (
            ranked.join(F.broadcast(heads), "value")
            .orderBy("bucket_rank", "sub_rank")
            .select("value", "n_docs", "sub_rank", "sub_value", "sub_n")
        )

    def facet_pivot(self, terms: list[str],
                    fields: tuple[str, str] = ("lang", "repo"),
                    field: str = "code.content",
                    k_facets: int = 50) -> DataFrame:
        """Pivot faceting (Solr ``facet.pivot=f1,f2``): hierarchical
        value-pair counts over the match set, top ``k_facets`` pairs by
        count (ties by value). Same distributed shape as
        :meth:`facet_counts` — ids decode inside executors, one
        id-keyed join to the bucket-partitioned docs table, one
        map-side-combinable groupBy on the pair. A deeper pivot is the
        same plan with more grouping columns; the shuffle key stays
        uniform because the doc side, not the value side, carries the
        cardinality."""
        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        f1, f2 = fields
        return (
            docs.join(matched, "doc_id")
            .groupBy(F.col(f1).alias("value1"), F.col(f2).alias("value2"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("value1"), F.asc("value2"))
            .limit(k_facets)
        )

    def facet_metric_stats(self, terms: list[str], facet: str = "lang",
                           field: str = "code.content",
                           percentiles: list[float] | None = None
                           ) -> DataFrame:
        """Stats-over-facet (Solr ``stats.field`` + ``stats.facet`` /
        JSON facet aggregations): per facet bucket over the match set,
        count / sum / avg / min / max of the per-doc token length — the
        engine's own doclen, so no content rescan. docs and doclen are
        both bucket-partitioned and id-keyed, so the two joins
        co-locate; the final groupBy is map-side-combinable on a
        low-cardinality key.

        ``percentiles`` (Solr stats ``percentiles=``) appends exact
        linear-interpolated quantile columns ``p<pp>_len``. Exact
        percentile is NOT map-side-combinable (it gathers each group's
        values); fine here because groups are facet buckets — for a
        high-cardinality facet at 100 TB switch to
        ``F.percentile_approx`` (t-digest, combinable) and accept the
        approximation."""
        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        dl = (self.spark.read.parquet(str(self.path / "doclen"))
              .filter(F.col("field") == field).select("doc_id", "len"))
        aggs = [F.count(F.lit(1)).alias("n_docs"),
                F.sum("len").alias("sum_len"),
                F.round(F.avg("len"), 5).alias("avg_len"),
                F.min("len").alias("min_len"),
                F.max("len").alias("max_len")]
        for p in percentiles or []:
            aggs.append(F.round(F.percentile("len", p), 5)
                        .alias(f"p{int(round(p * 100)):02d}_len"))
        return (
            docs.join(matched, "doc_id").join(dl, "doc_id")
            .groupBy(F.col(facet).alias("value"))
            .agg(*aggs)
            .orderBy(F.desc("n_docs"), F.asc("value"))
        )

    def export_matches(self, terms: list[str], out_dir: str,
                       field: str = "code.content",
                       columns: list[str] | None = None) -> int:
        """Export handler (Solr ``/export`` streaming analog): write
        every doc matching ANY query term to parquet, fully
        distributed — match ids decode inside executors, the docs-table
        join is id-keyed, and rows stream straight to the sink without
        ever visiting the driver. Returns the exported row count (read
        back from the sink's footer metadata — no second scan of the
        data pages). For Solr's SORTED streaming contract (sort=/fl=
        required, rows in order) use :meth:`export`."""
        matched = self._matched_ids(terms, field)
        docs = self.spark.read.parquet(str(self.path / "docs"))
        if columns:
            docs = docs.select("doc_id", *[c for c in columns if c != "doc_id"])
        docs.join(matched, "doc_id").write.mode("overwrite").parquet(out_dir)
        return self.spark.read.parquet(out_dir).count()

    def doc_term_vector(self, doc_id: int, field: str = "code.content",
                        top_m: int = 50) -> list[tuple[str, int]]:
        """Per-doc term vector (Solr termvectors component): the doc's
        terms with tf, ranked (tf DESC, term ASC). The index is
        term-major (no forward table by design — a forward index would
        double build cost for a rarely-hot path), so this is a scan of
        the doc's ONE bucket partition: partition pruning keeps it at
        O(bucket), executor-side decode keeps the driver at top_m rows."""
        bucket = self._bucket_of(doc_id)
        rows = self._postings.filter(~F.col("field").startswith(PSEUDO_PREFIX))
        if bucket is not None:
            rows = rows.filter(F.col("bucket") == bucket)
        rows = rows.filter(F.col("field") == field).select("term", "doc_ids", "tfs")
        target = np.uint64(doc_id)

        def find_doc(batches):
            from ftidx.codec import delta_decode, varint_decode

            for pdf in batches:
                terms_out, tfs_out = [], []
                for term, id_blob, tf_blob in zip(
                        pdf["term"], pdf["doc_ids"], pdf["tfs"]):
                    ids = delta_decode(varint_decode(id_blob))
                    pos = np.searchsorted(ids, target)
                    if pos < ids.size and ids[pos] == target:
                        terms_out.append(term)
                        tfs_out.append(int(varint_decode(tf_blob)[pos]))
                yield pd.DataFrame({"term": terms_out, "tf": tfs_out})

        got = (
            rows.mapInPandas(find_doc, schema="term string, tf long")
            # a doc's (term, tf) can be SPLIT across base + streamed/
            # upserted delta segment rows — sum before the cut, like
            # page_term_vectors, or /tv and more_like_this would see
            # duplicate terms with partial tfs on a delta-carrying index
            .groupBy("term").agg(F.sum("tf").alias("tf"))
            .orderBy(F.desc("tf"), F.asc("term")).limit(top_m).collect()
        )
        return [(r["term"], int(r["tf"])) for r in got]

    def more_like_this(self, doc_id: int, k: int = 10,
                       field: str = "code.content",
                       max_query_terms: int = 12) -> list[tuple[int, float]]:
        """More-like-this (Solr MLT component): rank other docs by BM25
        against the source doc's most significant terms (highest
        tf·idf, ties by term), excluding the source itself."""
        tv = self.doc_term_vector(doc_id, field=field, top_m=200)
        if not tv:
            return []
        n_docs, _ = self.stats.get(field, (0, 1.0))
        by_term = self._fetch_term_rows([t for t, _ in tv], field)
        scored_terms = sorted(
            (
                (-tf * bm25_idf(n_docs, sum(int(r["df"]) for r in by_term[t])), t)
                for t, tf in tv
                if by_term[t]
            ),
        )[:max_query_terms]
        qterms = [t for _, t in scored_terms]
        hits = self.topk(qterms, k=k + 1, field=field)
        return [(d, s) for d, s in hits if d != doc_id][:k]

    def metrics(self) -> dict:
        """Operational metrics (Solr admin/metrics analog): serving-
        cache effectiveness (term-cache entries/bytes/hit-rate, the
        number Solr ops watch to size caches), filterCache entries,
        tombstone pressure, and the LAST build's ledger summary
        (buckets, postings emitted, bytes, elapsed, skew — the
        reference's S30 progress metrics, read back from the persisted
        per-bucket ledger, KB-sized). Cheap: no postings scan — the
        only job is the ledger read, a tiny parquet. Counters are
        copied under ``_cache_lock``; the ledger read runs outside it so
        concurrent queries never wait behind a Spark job."""
        with self._cache_lock:
            out = self._cache_metrics()
        ledger_dir = self.path / "ledger"
        if ledger_dir.exists() and any(ledger_dir.iterdir()):
            out.update(self._ledger_metrics(ledger_dir, out["build_id"]))
        return out

    def _cache_metrics(self) -> dict:
        probes = self._cache_hits + self._cache_misses
        return {
            "term_cache": {
                "entries": len(self._term_cache),
                "bytes": int(self._cache_bytes),
                "max_bytes": int(self._term_cache_max_bytes),
                "hits": self._cache_hits,
                "misses": self._cache_misses,
                "hit_rate": round(self._cache_hits / probes, 4)
                            if probes else None,
            },
            "filter_cache": {
                "entries": len(self._filter_cache),
                "bytes": int(self._filter_cache_bytes),
                "max_bytes": int(self._filter_cache_max_bytes),
            },
            "result_cache": {
                "entries": len(self._result_cache),
                "bytes": int(self._result_cache_bytes),
                "max_bytes": int(self._result_cache_max_bytes),
                "hits": self._result_hits,
                "misses": self._result_misses,
                "hit_rate": round(
                    self._result_hits
                    / (self._result_hits + self._result_misses), 4)
                    if (self._result_hits + self._result_misses) else None,
            },
            "tombstones_pending": len(self._tombstones),
            "build_id": self.manifest.get("build_id"),
        }

    def _ledger_metrics(self, ledger_dir: Path, build_id) -> dict:
        """The last build's ledger summary and failure reasons for
        :meth:`metrics`, read from the persisted per-bucket ledger."""
        out = {}
        # mergeSchema: ledgers written before the S27 error column
        # existed coexist with rows that carry it — without the
        # merge, Spark picks one file's schema arbitrarily
        led = self.spark.read.option("mergeSchema", "true") \
            .parquet(str(ledger_dir))
        # the ledger is append-only across build generations — a
        # blind sum double-counts after a rebuild. Aggregate per
        # generation and report the manifest's build id; a resume
        # that skipped every bucket writes a fresh manifest id with
        # NO ledger rows, so fall back to the most complete
        # generation (ties broken deterministically by id; tied
        # complete generations describe the same index — resume
        # verifies the build params match — so any is valid)
        per_gen = (
            led.filter(F.col("status") == "done")
            .groupBy("build_id")
            .agg(F.count(F.lit(1)).alias("buckets_done"),
                 F.sum("postings_emitted").alias("postings"),
                 F.sum("bytes_compressed").alias("bytes"),
                 F.max("skew_ratio").alias("max_skew"),
                 F.sum("elapsed_sec").alias("task_sec")).collect()
        )
        if per_gen:
            by_id = {r["build_id"]: r for r in per_gen}
            row = by_id.get(build_id) or max(
                per_gen,
                key=lambda r: (int(r["buckets_done"]), r["build_id"]))
            out["last_build"] = {
                "build_id": row["build_id"],
                "buckets_done": int(row["buckets_done"] or 0),
                "postings_emitted": int(row["postings"] or 0),
                "bytes_compressed": int(row["bytes"] or 0),
                "max_skew_ratio": float(row["max_skew"] or 0.0),
                "task_sec_total": float(row["task_sec"] or 0.0),
            }
        # S27 queueFail analog (RawRepoQueueBean.java:28-34): the
        # persisted per-bucket failure reasons, so an operator sees
        # WHY a bucket failed from /metrics, not driver logs. The
        # ledger is append-only, so reasons survive the resume that
        # fixed them; unresolved = failed buckets with no "done"
        # row anywhere (i.e. still pending a successful retry).
        if "error" in led.columns:
            fails = (
                led.filter(F.col("status") == "failed")
                .select("build_id", "bucket", "tracking_id", "error")
                .collect()
            )
            if fails:
                done_b = {
                    int(r["bucket"])
                    for r in led.filter(F.col("status") == "done")
                    .select("bucket").distinct().collect()
                }
                out["failures"] = {
                    "count": len(fails),
                    "unresolved_buckets": sorted(
                        {int(r["bucket"]) for r in fails} - done_b),
                    "rows": [
                        {"build_id": r["build_id"],
                         "bucket": int(r["bucket"]),
                         "tracking_id": r["tracking_id"],
                         "error": r["error"]}
                        for r in fails[:50]
                    ],
                }
        return out

    def predicate_ids(self, predicate: str) -> frozenset:
        """Solr filterCache analog: the doc-id set passing a metadata
        SQL predicate (``"lang = 'python'"``), from ONE column-pruned,
        predicate-pushed docs scan, memoized per predicate string —
        Solr caches fq bitsets for exactly this reason: filters repeat
        across queries, queries don't. Tombstones excluded;
        :meth:`refresh` invalidates (same lifecycle as the term cache).

        Driver memory holds one long per matching doc — the serving
        trade the term cache already makes; an analytic-scale filter
        belongs in :meth:`topk_where`, which stays distributed."""
        with self._cache_lock:
            cached = self._filter_cache.get(predicate)
            if cached is not None:
                self._filter_cache.move_to_end(predicate)  # LRU touch
        if cached is None:
            # the docs scan runs OUTSIDE the lock (concurrent queries
            # overlap); a raced duplicate insert is identical + skipped
            docs = self.spark.read.parquet(str(self.path / "docs"))
            cached = frozenset(
                int(r["doc_id"])
                for r in docs.filter(F.expr(predicate))
                .select("doc_id").collect()
            )
            with self._cache_lock:
                if predicate not in self._filter_cache:
                    self._filter_cache[predicate] = cached
                    self._filter_cache_bytes += _idset_cost(cached)
                    # same discipline as the term cache: user-supplied
                    # predicate strings are unbounded, driver memory is not
                    while self._filter_cache and (
                        len(self._filter_cache) > self._filter_cache_max
                        or self._filter_cache_bytes > self._filter_cache_max_bytes
                    ):
                        _, old = self._filter_cache.popitem(last=False)
                        self._filter_cache_bytes -= _idset_cost(old)
        # tombstones subtract at LOOKUP time: delete() grows the
        # tombstone set without refresh(), and a baked-in subtraction
        # would keep serving deleted ids from the cache
        if self._tombstones:
            return cached - self._tombstones
        return cached

    def facet_counts_for_ids(self, doc_ids, facet: str = "lang",
                             k_facets: int = 20) -> list[tuple[str, int]]:
        """Terms facet over an EXPLICIT doc-id set (the JSON Request
        API's facet-over-filtered-match-set case, where the match set
        came from the boolean/query-string executor rather than a
        plain term list). The id set ships as a broadcast semi-join
        into the docs scan — the exact shape of a map-side bitset
        filter — and the aggregation is one map-side-combinable
        groupBy cut at ``k_facets`` (count DESC, value ASC)."""
        ids = [int(d) for d in doc_ids]
        if not ids:
            return []
        id_df = self.spark.createDataFrame(
            [(d,) for d in ids], "doc_id long")
        docs = self.spark.read.parquet(str(self.path / "docs"))
        rows = (
            docs.join(F.broadcast(id_df), "doc_id")
            .groupBy(F.col(facet).alias("value"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("value"))
            .limit(k_facets).collect()
        )
        return [(r["value"], int(r["n_docs"])) for r in rows]

    def select_json(self, body: dict) -> dict:
        """Solr JSON Request API (POST /select): one request composing
        query + filters + paging + stored fields + facets, the modern
        Solr surface::

            {"query": "+merge ret* -slow",
             "filter": ["lang = 'python'", "n_chars >= 100"],
             "offset": 0, "limit": 10,
             "fields": ["path", "lang"],
             "facet": {"langs": {"type": "terms", "field": "lang",
                                 "limit": 5}},
             "params": {"mm": 2, "df": "code.content"}}

        Semantics follow Solr: ``query`` is the full query-string
        grammar (qparse); every ``filter`` predicate restricts the
        match set BEFORE ranking cuts (fq — non-scoring, answered from
        the :meth:`predicate_ids` filterCache); ``response.numFound``
        is the filtered match-set size; facets aggregate over the
        ENTIRE filtered match set, not the page (Solr's contract);
        ``fields`` enriches only the returned page
        (:meth:`fetch_docs`). Sorting is score DESC, id ASC (use
        :meth:`search_sorted` for sort-by-field/function over term
        queries). Unsupported keys raise ValueError → HTTP 400.

        Multi-select faceting (Solr localParams ``{!tag=}`` + JSON
        facet ``domain.excludeTags``): a filter may carry tags —
        ``"{!tag=L}lang = 'python'"`` (comma for several) — and a
        facet may exclude tagged filters from its OWN counting
        domain::

            {"query": "merge",
             "filter": ["{!tag=L}lang = 'python'", "n_chars >= 100"],
             "facet": {"langs": {"type": "terms", "field": "lang",
                                 "domain": {"excludeTags": ["L"]}},
                       "fast": {"type": "query", "q": "fast"}}}

        ``langs`` then counts over query ∩ (n_chars filter) — the
        user's own language selection does not collapse the language
        facet to one bar, which is the whole point of multi-select
        UIs — while ``response`` and un-excluding facets still apply
        every filter. ``type: "query"`` facets (JSON facet API) count
        the domain docs ALSO matching a second query string. Filter
        id-sets come from the filterCache, so alternate domains are
        driver-side set intersections, not extra scans."""
        known = {"query", "filter", "offset", "limit", "fields",
                 "facet", "params"}
        unknown = set(body) - known
        if unknown:
            raise ValueError(f"unsupported /select keys: {sorted(unknown)}")
        q = body.get("query", "")
        if not isinstance(q, str) or not q.strip():
            raise ValueError("/select needs a non-empty string 'query'")
        params = body.get("params") or {}
        if not isinstance(params, dict):
            raise ValueError("'params' must be a JSON object")
        field = params.get("df", "code.content")
        mm = params.get("mm")
        offset = int(body.get("offset", 0))
        limit = int(body.get("limit", 10))
        # Solr 400s on negative start/rows; without this, limit=-1
        # would slice to nearly the whole match set
        if offset < 0 or limit < 0:
            raise ValueError("'offset' and 'limit' must be >= 0")

        # full filtered match set: numFound and facets need it all —
        # the ranking itself is the driver-side serving kernel, which
        # already materializes every candidate before the cut
        qhits = self.query_string(q, k=1 << 30, field=field, min_match=mm)
        filters = body.get("filter") or []
        if isinstance(filters, str):
            filters = [filters]
        if not isinstance(filters, list) or \
                not all(isinstance(p, str) for p in filters):
            raise ValueError("'filter' must be a predicate string or a "
                             "list of predicate strings")
        # (tags, predicate) pairs — the {!tag=a,b} localParams prefix
        # names a filter so facet domains can exclude it
        parsed = [_filter_tags(pred) for pred in filters]
        hits = qhits
        for _, pred in parsed:
            keep = self.predicate_ids(pred)
            hits = [(d, s) for d, s in hits if d in keep]

        page = hits[offset:offset + limit]
        docs = [{"doc_id": d, "score": s} for d, s in page]
        fields = body.get("fields") or []
        if isinstance(fields, str):
            fields = [fields]
        if not isinstance(fields, list) or \
                not all(isinstance(f, str) for f in fields):
            raise ValueError("'fields' must be a column name or a "
                             "list of column names")
        if fields and page:
            stored = self.fetch_docs([d for d, _ in page], columns=fields)
            for row in docs:
                row.update({k: v for k, v in
                            stored.get(row["doc_id"], {}).items()
                            if k != "doc_id"})
        out = {"response": {"numFound": len(hits), "start": offset,
                            "docs": docs}}

        facet_spec = body.get("facet") or {}
        if not isinstance(facet_spec, dict) or \
                not all(isinstance(s, dict) for s in facet_spec.values()):
            raise ValueError("'facet' must be {name: {type/field/limit}}")
        if facet_spec:
            docs_tbl = self.spark.read.parquet(str(self.path / "docs"))
            # a facet's domain = query hits ∩ the non-excluded filters;
            # memoized per applied-filter mask so N facets sharing a
            # domain share ONE id list (and the all-applied domain is
            # just `hits`, already computed)
            domain_memo: dict[tuple, list[int]] = {
                tuple(range(len(parsed))): [d for d, _ in hits]}
            id_df_memo: dict[tuple, object] = {}

            def domain(exclude: frozenset) -> tuple[tuple, list[int]]:
                key = tuple(i for i, (tags, _) in enumerate(parsed)
                            if not (tags & exclude))
                ids = domain_memo.get(key)
                if ids is None:
                    out_ids = [d for d, _ in qhits]
                    for i in key:
                        keep = self.predicate_ids(parsed[i][1])
                        out_ids = [d for d in out_ids if d in keep]
                    ids = domain_memo[key] = out_ids
                return key, ids

            out["facets"] = {}
            for name, spec in facet_spec.items():
                ftype = spec.get("type", "terms")
                allowed = {"terms": {"type", "field", "limit", "domain"},
                           "query": {"type", "q", "domain"}}.get(ftype)
                if allowed is None:
                    raise ValueError(f"facet {name!r}: unsupported type "
                                     f"{ftype!r} (terms, query)")
                extra = set(spec) - allowed
                if extra:
                    raise ValueError(
                        f"facet {name!r}: unsupported keys {sorted(extra)}")
                dom = spec.get("domain") or {}
                if not isinstance(dom, dict) or set(dom) - {"excludeTags"}:
                    raise ValueError(f"facet {name!r}: 'domain' supports "
                                     "only excludeTags")
                exclude = dom.get("excludeTags") or []
                if isinstance(exclude, str):
                    exclude = [exclude]
                key, ids = domain(frozenset(exclude))
                if ftype == "query":
                    if not isinstance(spec.get("q"), str) or \
                            not spec["q"].strip():
                        raise ValueError(
                            f"facet {name!r}: query facet needs 'q'")
                    sub = {d for d, _ in self.query_string(
                        spec["q"], k=1 << 30, field=field)}
                    out["facets"][name] = {
                        "count": sum(1 for d in ids if d in sub)}
                    continue
                if "field" not in spec:
                    raise ValueError(f"facet {name!r}: missing 'field'")
                if not ids:
                    out["facets"][name] = []
                    continue
                # one broadcast id frame per DISTINCT domain — N facet
                # entries over the same domain share it
                id_df = id_df_memo.get(key)
                if id_df is None:
                    id_df = id_df_memo[key] = self.spark.createDataFrame(
                        [(int(d),) for d in ids], "doc_id long")
                rows = (
                    docs_tbl.join(F.broadcast(id_df), "doc_id")
                    .groupBy(F.col(spec["field"]).alias("value"))
                    .agg(F.count(F.lit(1)).alias("n_docs"))
                    .orderBy(F.desc("n_docs"), F.asc("value"))
                    .limit(int(spec.get("limit", 20))).collect()
                )
                out["facets"][name] = [
                    {"value": r["value"], "count": int(r["n_docs"])}
                    for r in rows]
        return out

    def page_term_vectors(self, doc_ids: list[int],
                          field: str = "code.content") -> list[tuple]:
        """Term vectors for a whole result page in ONE job: (doc_id,
        term, tf, df_partial-summed-global later) rows for every page
        doc. Unlike :meth:`doc_term_vector` (one scan per doc), the
        postings scan is pruned to the UNION of the page's buckets
        (resolved in one doclen scan, :meth:`fetch_docs` discipline)
        and every blob probe answers all page ids at once via one
        searchsorted — the per-page cost is O(buckets touched), sized
        by the page, never the corpus. Returns [(doc_id, term, tf)]."""
        ids = sorted({int(d) for d in doc_ids
                      if int(d) not in self._tombstones})
        if not ids:
            return []
        dl_dir = self.path / "doclen"
        buckets: list[int] = []
        if dl_dir.exists() and any(dl_dir.iterdir()):
            buckets = sorted({
                int(r["bucket"]) for r in
                self.spark.read.parquet(str(dl_dir))
                .filter(F.col("doc_id").isin(ids))
                .select("bucket").distinct().collect()
            })
        rows = self._postings
        if buckets:
            rows = rows.filter(F.col("bucket").isin(buckets))
        rows = rows.filter(F.col("field") == field) \
            .select("term", "doc_ids", "tfs")
        targets = np.array(ids, dtype=np.uint64)

        def find_page(batches):
            from ftidx.codec import delta_decode, varint_decode

            for pdf in batches:
                d_out, t_out, tf_out = [], [], []
                for term, id_blob, tf_blob in zip(
                        pdf["term"], pdf["doc_ids"], pdf["tfs"]):
                    arr = delta_decode(varint_decode(id_blob))
                    pos = np.searchsorted(arr, targets)
                    ok = pos < arr.size
                    ok[ok] = arr[pos[ok]] == targets[ok]
                    if not ok.any():
                        continue
                    tfs = varint_decode(tf_blob)
                    for d, p in zip(targets[ok], pos[ok]):
                        d_out.append(int(d))
                        t_out.append(term)
                        tf_out.append(int(tfs[p]))
                yield pd.DataFrame(
                    {"doc_id": pd.Series(d_out, dtype="int64"),
                     "term": pd.Series(t_out, dtype="object"),
                     "tf": pd.Series(tf_out, dtype="int64")})

        got = rows.mapInPandas(
            find_page, schema="doc_id long, term string, tf long"
        ).collect()
        # a doc's postings live entirely in its bucket, but streamed
        # delta segments can split a (doc, term) across rows — sum
        agg: dict[tuple[int, str], int] = {}
        for r in got:
            key = (int(r["doc_id"]), r["term"])
            agg[key] = agg.get(key, 0) + int(r["tf"])
        return [(d, t, tf) for (d, t), tf in sorted(agg.items())]

    def cluster_topk(self, terms: list[str], k: int = 50,
                     field: str = "code.content", min_df: int = 2,
                     stop_df_frac: float = 0.5) -> list[dict]:
        """Result clustering (Solr clustering component / Carrot2
        analog): group the top-``k`` hit page by each doc's dominant
        DISTINGUISHING term — argmax tf × idf with the engine's
        tfidf_vectors convention (smoothed idf = ln((N+1)/(df+1)) + 1),
        ties (tfidf DESC, term ASC). Terms in more than
        ``stop_df_frac`` of all docs are excluded as labels (a term
        half the corpus shares discriminates nothing — Carrot2's stop-
        label filter), as are terms below ``min_df``; a doc whose every
        term is filtered falls into the ``"(other)"`` cluster.

        Cost is page-shaped, never corpus-shaped: one bucket-pruned
        postings decode for the page's term vectors
        (:meth:`page_term_vectors`), one (term, df)-column-pruned vocab
        scan restricted to the page's distinct terms (isin pushdown)
        for global df, then driver numpy over ≤ page × vocab-per-doc
        rows. Returns [{"label", "n_docs", "doc_ids"}] ordered
        (n_docs DESC, label ASC)."""
        hits = self.topk(terms, k=k, field=field)
        if not hits:
            return []
        page = [d for d, _ in hits]
        tv = self.page_term_vectors(page, field=field)
        if not tv:
            return []
        page_terms = sorted({t for _, t, _ in tv})
        df_rows = (
            self._postings.filter(F.col("field") == field)
            .filter(F.col("term").isin(page_terms))
            .groupBy("term").agg(F.sum("df").alias("df")).collect()
        )
        df_map = {r["term"]: int(r["df"]) for r in df_rows}
        n_docs, _ = self.stats.get(field, (0, 1.0))
        max_df = stop_df_frac * n_docs

        best: dict[int, tuple[float, str]] = {}
        for d, t, tf in tv:
            df = df_map.get(t, 0)
            if df < min_df or df > max_df:
                continue
            w = round(tf * (np.log((n_docs + 1.0) / (df + 1.0)) + 1.0), 5)
            cur = best.get(d)
            # tie-break: higher tfidf wins, then lexicographically
            # smaller term (deterministic across layouts)
            if cur is None or (-w, t) < (-cur[0], cur[1]):
                best[d] = (w, t)
        clusters: dict[str, list[int]] = {}
        for d in page:
            label = best.get(d, (0.0, "(other)"))[1]
            clusters.setdefault(label, []).append(d)
        out = [{"label": la, "n_docs": len(ds), "doc_ids": sorted(ds)}
               for la, ds in clusters.items()]
        out.sort(key=lambda c: (-c["n_docs"], c["label"]))
        return out

    def _bucket_of(self, doc_id: int) -> int | None:
        """Bucket owning ``doc_id``, resolved via the doclen table (one
        column-pruned, predicate-pushed lookup). NOT derived from
        ``doc_id >> BUCKET_SHIFT``: that is only valid for batch rank
        ids, and a streaming hash id aliases into a plausible bucket
        once per ~65k ids — a silently-empty term vector. None when the
        id is unknown (caller scans every bucket)."""
        dl_dir = self.path / "doclen"
        if dl_dir.exists() and any(dl_dir.iterdir()):
            row = (
                self.spark.read.parquet(str(dl_dir))
                .filter(F.col("doc_id") == doc_id).select("bucket").first()
            )
            if row is not None:
                return int(row["bucket"])
        return None

    def get_doc(self, doc_id: int) -> dict | None:
        """Real-time-get analog (Solr ``/get``): the metadata row for
        one doc id — tombstone-aware, bucket-pruned (the docs table is
        partitioned by bucket, so the lookup reads exactly one
        partition's footers plus the id-predicate-pushed pages).
        Streamed delta docs carry postings only until compact
        folds them into base buckets; before that this returns None for
        them, matching the docs-table-backed facet/export surfaces."""
        if doc_id in self._tombstones:
            return None
        docs = self.spark.read.parquet(str(self.path / "docs"))
        q = docs.filter(F.col("doc_id") == doc_id)
        b = self._bucket_of(doc_id)
        if b is not None:
            q = q.filter(F.col("bucket") == b)
        row = q.first()
        return row.asDict() if row is not None else None

    def fetch_docs(self, doc_ids: list[int],
                   columns: list[str] | None = None) -> dict[int, dict]:
        """Stored-field retrieval for a result page (Solr ``fl=``): the
        metadata rows for a small id set in ONE column-pruned,
        bucket-pruned scan — the per-hit enrichment step after top-k,
        so it is sized by k, never by the corpus. Tombstoned ids are
        omitted (consistent with :meth:`get_doc`)."""
        ids = [d for d in dict.fromkeys(doc_ids) if d not in self._tombstones]
        if not ids:
            return {}
        # resolve every id's bucket in ONE doclen scan (isin pushdown) —
        # not one _bucket_of job per id — then prune the docs scan to
        # those partitions; ids absent from doclen have no docs row, so
        # the partition pruning cannot drop them
        dl_dir = self.path / "doclen"
        buckets: list[int] = []
        if dl_dir.exists() and any(dl_dir.iterdir()):
            buckets = sorted({
                int(r["bucket"]) for r in
                self.spark.read.parquet(str(dl_dir))
                .filter(F.col("doc_id").isin(ids))
                .select("bucket").distinct().collect()
            })
        docs = self.spark.read.parquet(str(self.path / "docs"))
        if buckets:
            docs = docs.filter(F.col("bucket").isin(buckets))
        docs = docs.filter(F.col("doc_id").isin(ids))
        if columns:
            docs = docs.select("doc_id",
                               *[c for c in columns if c != "doc_id"])
        rows = docs.collect()
        return {int(r["doc_id"]): r.asDict() for r in rows}

    def highlight(self, doc_ids: list[int], terms: list[str],
                  frag_size: int = 100, max_frags: int = 1,
                  pre: str = "<em>", post: str = "</em>",
                  text_col: str = "content") -> dict[int, list[str]]:
        """Solr HighlightComponent analog (``hl=``): per-hit snippet
        fragments with query-term occurrences wrapped in ``pre``/
        ``post`` tags. Fragment selection is best-window: among
        windows of ``frag_size`` chars anchored at term occurrences,
        prefer (most DISTINCT terms, most total hits, earliest) —
        greedy non-overlapping selection up to ``max_frags``.

        Requires an index built with ``store_content=True`` (the Solr
        stored="true" analog) — raises ValueError otherwise. Docs
        without stored text (e.g. streamed-in after the batch build)
        map to an empty list, as do docs with no term occurrence.

        Page-shaped cost by construction: ONE id+bucket-pruned scan of
        the stored table for the page, then pure-python fragmenting
        over k strings on the driver — the same cost model as ``fl=``
        enrichment, never a corpus job. Matching is case-insensitive
        on raw stored text (Solr's simple/unified highlighter over a
        stored field).
        """
        if frag_size <= 0 or max_frags <= 0:
            raise ValueError("frag_size and max_frags must be positive")
        stored_dir = self.path / "stored"
        if not stored_dir.exists():
            raise ValueError(
                "highlighting needs stored text: build the index with "
                "store_content=True")
        qterms = sorted({t.lower() for t in terms if t},
                        key=len, reverse=True)  # longest-first: "foobar"
        # wins over "foo" at the same start offset
        ids = [d for d in dict.fromkeys(doc_ids)
               if d not in self._tombstones]
        docs: dict[int, dict] = {}
        if ids:
            # resolve the page's buckets in ONE doclen scan (same
            # discipline as fetch_docs), prune the stored scan to them
            dl_dir = self.path / "doclen"
            buckets: list[int] = []
            if dl_dir.exists() and any(dl_dir.iterdir()):
                buckets = sorted({
                    int(r["bucket"]) for r in
                    self.spark.read.parquet(str(dl_dir))
                    .filter(F.col("doc_id").isin(ids))
                    .select("bucket").distinct().collect()
                })
            stored = self.spark.read.parquet(str(stored_dir))
            if buckets:
                stored = stored.filter(F.col("bucket").isin(buckets))
            docs = {int(r["doc_id"]): {text_col: r[text_col]} for r in
                    stored.filter(F.col("doc_id").isin(ids))
                    .select("doc_id", text_col).collect()}
        out: dict[int, list[str]] = {}
        for did in dict.fromkeys(doc_ids):
            row = docs.get(did)
            text = (row or {}).get(text_col) or ""
            low = text.lower()
            occs: list[tuple[int, int]] = []  # (start, end) non-overlap
            taken: list[tuple[int, int]] = []
            occ_term: dict[int, str] = {}
            for t in qterms:
                i = low.find(t)
                while i >= 0:
                    if not any(s < i + len(t) and i < e for s, e in taken):
                        occs.append((i, i + len(t)))
                        taken.append((i, i + len(t)))
                        occ_term[i] = t
                    i = low.find(t, i + 1)
            if not occs:
                out[did] = []
                continue
            occs.sort()
            frags: list[str] = []
            remaining = list(range(len(occs)))
            for _ in range(max_frags):
                if not remaining:
                    break
                best = None  # (n_distinct, n_hits, -start, i0, iN)
                for ai, i0 in enumerate(remaining):
                    s0 = occs[i0][0]
                    group = [i0]
                    for i1 in remaining[ai + 1:]:
                        if occs[i1][1] <= s0 + frag_size:
                            group.append(i1)
                    distinct = len({occ_term[occs[i][0]] for i in group})
                    cand = (distinct, len(group), -s0, group)
                    if best is None or cand[:3] > best[:3]:
                        best = cand
                group = best[3]
                ws = occs[group[0]][0]
                we = min(len(text), max(occs[group[-1]][1], ws + frag_size))
                ws = max(0, we - frag_size) if we - ws < frag_size else ws
                piece = text[ws:we]
                # insert tags back-to-front so offsets stay valid
                inside = [occs[i] for i in group
                          if occs[i][0] >= ws and occs[i][1] <= we]
                for s, e in sorted(inside, reverse=True):
                    piece = (piece[: s - ws] + pre + piece[s - ws : e - ws]
                             + post + piece[e - ws :])
                frags.append(piece)
                remaining = [i for i in remaining if i not in group]
            out[did] = frags
        return out

    def topk_distributed(self, terms: list[str], k: int = 10,
                         field: str = "code.content", mode: str = "or",
                         exclude: list[str] | None = None,
                         min_match: int | None = None) -> DataFrame:
        """Score inside executors, one task per bucket; global top-k via
        TakeOrderedAndProject. df/idf are global (two-pass: tiny df agg
        broadcast into the scoring closure).

        Boolean semantics (``mode="and"``, ``exclude``, ``min_match``)
        are valid per-bucket: a doc's postings live entirely in its one
        bucket (batch rank ids and streamed hash ids are both
        bucket-keyed), so the per-bucket conjunction/exclusion/
        match-count equals the global one — full parity with
        :meth:`topk`'s boolean surface on the distributed path."""
        return (self._scored_df(terms, field, k=k, mode=mode,
                                exclude=exclude, min_match=min_match)
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


class _FuncQueryProvider:
    """:func:`ftidx.funcquery.resolve` provider over one FtIndex:
    scalar functions come from the stats/postings tables (term-pruned
    scans, the same shape query scoring uses); per-doc functions
    (termfreq, norm) register (doc_id, value) frames that
    :meth:`FtIndex.topk_funcquery` left-joins onto the docs side."""

    def __init__(self, idx: FtIndex, default_field: str,
                 now_ms: int | None = None):
        self.idx = idx
        self.default_field = default_field
        self.now_ms = now_ms
        self.join_frames: list[tuple[str, DataFrame]] = []

    def scalar(self, call) -> float:
        name = call.name
        if name in ("maxdoc", "numdocs"):
            n_docs, _ = self.idx.stats.get(self.default_field, (0, 1.0))
            return float(n_docs)
        field, term = call.args[0].name, call.args[1].value
        if name in ("docfreq", "idf"):
            row = self.idx._postings.filter(
                (F.col("field") == field) & (F.col("term") == term)
            ).agg(F.sum("df").alias("df")).collect()[0]
            df_global = int(row["df"] or 0)
            if name == "docfreq":
                return float(df_global)
            if df_global == 0:
                return 0.0
            n_docs, _ = self.idx.stats.get(field, (0, 1.0))
            return float(bm25_idf(n_docs, df_global))
        # ttf: total term frequency across the corpus — sum of the
        # term's decoded tf column (one term-pruned decode pass)
        row = self._tf_frame(field, term).agg(
            F.sum("tf").alias("s")).collect()[0]
        return float(row["s"] or 0.0)

    def minmax(self, x_node) -> tuple[float, float]:
        from ftidx import funcquery as FQ

        def has_splice(n) -> bool:
            if isinstance(n, FQ.Sql):
                return True
            return isinstance(n, FQ.Call) and any(
                has_splice(a) for a in n.args)

        if has_splice(x_node):
            raise FQ.FuncQueryError(
                "scale() over termfreq()/norm() is not supported — "
                "scale the joined column with explicit bounds instead")
        sql = FQ.compile_spark(x_node, self.now_ms)
        docs = self.idx.spark.read.parquet(str(self.idx.path / "docs"))
        row = docs.select(F.expr(sql).alias("x")).agg(
            F.min("x").alias("mn"), F.max("x").alias("mx")).collect()[0]
        if row["mn"] is None:
            raise FQ.FuncQueryError("scale() over an all-NULL expression")
        return float(row["mn"]), float(row["mx"])

    def termfreq_column(self, field: str, term: str) -> tuple[str, str]:
        col = f"__fq_tf{len(self.join_frames)}"
        self.join_frames.append(
            (col, self._tf_frame(field, term).withColumnRenamed("tf", col)))
        ref = f"CAST({col} AS DOUBLE)"
        return ref, ref

    def norm_column(self, field: str) -> tuple[str, str]:
        col = f"__fq_norm{len(self.join_frames)}"
        dl = (
            self.idx.spark.read.parquet(str(self.idx.path / "doclen"))
            .filter(F.col("field") == field)
            # a doc's dl can be split across base + delta segment rows
            .groupBy("doc_id").agg(F.sum("len").alias("len"))
            .select("doc_id",
                    (F.lit(1.0) / F.sqrt(F.col("len"))).alias(col))
        )
        self.join_frames.append((col, dl))
        ref = f"CAST({col} AS DOUBLE)"
        return ref, ref

    def _tf_frame(self, field: str, term: str) -> DataFrame:
        """(doc_id, tf) for ONE (field, term): term-pruned postings
        scan, executor-side varint decode, delta-segment rows summed.
        Tombstoned ids never surface because the boost join is inner
        against the (already tombstone-filtered) scored frame."""
        prows = self.idx._postings.filter(
            (F.col("field") == field) & (F.col("term") == term)
        ).select("doc_ids", "tfs")

        def decode(batches):
            from ftidx.codec import delta_decode, varint_decode

            for pdf in batches:
                ids_out, tf_out = [], []
                for id_blob, tf_blob in zip(pdf["doc_ids"], pdf["tfs"]):
                    ids_out.append(delta_decode(
                        varint_decode(id_blob)).astype("int64"))
                    tf_out.append(
                        varint_decode(tf_blob).astype("float64"))
                if ids_out:
                    yield pd.DataFrame({
                        "doc_id": np.concatenate(ids_out),
                        "tf": np.concatenate(tf_out)})
                else:
                    yield pd.DataFrame({
                        "doc_id": pd.Series(dtype="int64"),
                        "tf": pd.Series(dtype="float64")})

        return (prows.mapInPandas(decode, schema="doc_id long, tf double")
                .groupBy("doc_id").agg(F.sum("tf").alias("tf")))


def open_index(spark: SparkSession, path: str) -> FtIndex:
    return FtIndex(spark, path)
