"""Positional postings + phrase queries (opt-in).

The reference's observed query surface is term-only (IndexerIT.java:
98-105), so this is parity-plus: the first retrieval feature a user of
a Solr replacement asks for beyond bag-of-words. Design:

- **Position** = 0-based occurrence index of a term within its
  (doc, field) token stream — Lucene semantics; tokenize_batch emits
  occurrences in order, so positions are a cumcount over (doc, field).
- **Storage**: a ``positions`` parquet table with one row per
  (field, term, bucket) holding three varint blobs — ascending doc ids
  (delta-gap), per-doc tf, and the flattened positions (per doc:
  first absolute, rest delta). Self-contained (no join against the
  postings table, no cross-table alignment assumptions — maintenance
  can rewrite either table independently).
- **Build shape**: the same bucket-local topology as the main build —
  raw docs shuffled by bucket once, ONE kernel per bucket tokenizes
  and emits every term's blobs via single vectorized varint passes
  (codec-style per-group byte-range slicing, no per-group encode
  calls, no per-row Python).
- **Phrase query**: intersect the phrase terms' doc sets, then chain
  position intersections (``np.intersect1d`` of pos(t_i)+1 with
  pos(t_{i+1})); exact. Both plan executors (driver, per bucket) run
  it for a ScorePlan's PHRASE / NEAR sets (:class:`ftidx.wand.DocSet`).

Opt-in (``build_index(..., positions=True)``) because positions
roughly double index size and encode cost. Streamed deltas carry
positions too when the base does (streaming.index_microbatch writes
``delta_positions/batch=<epoch>``; FtIndex unions them at read time;
maintenance.compact folds them) — a doc visible to term
queries is visible to phrase queries, Solr soft-commit parity.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ftidx.codec import (_varint_encode_with_sizes, delta_decode,
                         delta_decode_runs, varint_decode)
from ftidx.index import _first_copies
from ftidx.schema import POSITIONS_SCHEMA

_POS_COLS = [f.name for f in POSITIONS_SCHEMA.fields]


def _occurrence_positions(doc_codes: np.ndarray, fld_codes: np.ndarray,
                          n_f: int) -> np.ndarray:
    """0-based cumcount over (doc, field) in original (occurrence)
    order, vectorized: stable-sort by key, index-within-run, invert."""
    key = doc_codes.astype(np.int64) * n_f + fld_codes
    order = np.argsort(key, kind="stable")
    sk = key[order]
    change = np.empty(sk.size, dtype=bool)
    change[0] = True
    np.not_equal(sk[1:], sk[:-1], out=change[1:])
    run_start = np.maximum.accumulate(np.where(change, np.arange(sk.size), 0))
    pos_sorted = np.arange(sk.size) - run_start
    pos = np.empty_like(pos_sorted)
    pos[order] = pos_sorted
    return pos


def _bucket_local_positions(batches):
    """mapInPandas kernel (same shuffle contract as
    index._bucket_local_encode): raw docs of ≥1 whole buckets →
    positional rows per (bucket, field, term). Each doc's bucket comes
    from its input row — streamed hash ids do not embed it.

    Memory envelope: unlike the tf kernel, positions keep every
    occurrence — so each Arrow batch is tokenized on its own and only
    numpy code arrays (~13 B/occurrence) accumulate; per-batch term
    vocabularies are remapped to a global sorted vocab at the end
    (searchsorted), never holding the partition's token strings."""
    from ftidx.tokenize import tokenize_batch

    doc_parts, bkt_parts, fldc_parts, trmc_parts, pos_parts = [], [], [], [], []
    fld_vocabs, trm_vocabs = [], []
    for pdf in batches:
        if not len(pdf):
            continue
        tokens = tokenize_batch(pdf[["doc_id", "content", "lang", "repo", "path"]])
        if not len(tokens):
            continue
        fldc, fld_uniq = pd.factorize(tokens["field"])
        trmc, trm_uniq = pd.factorize(tokens["term"])
        docc, _ = pd.factorize(tokens["doc_id"])
        pos_parts.append(
            _occurrence_positions(docc, fldc, len(fld_uniq)).astype(np.uint64))
        doc_parts.append(tokens["doc_id"].to_numpy(dtype=np.int64))
        bkt_parts.append(pdf["bucket"].to_numpy()[
            pd.Index(pdf["doc_id"]).get_indexer(tokens["doc_id"])])
        fldc_parts.append(fldc.astype(np.int32))
        trmc_parts.append(trmc.astype(np.int64))
        fld_vocabs.append(np.asarray(fld_uniq, dtype=object))
        trm_vocabs.append(np.asarray(trm_uniq, dtype=object))
    if not doc_parts:
        return

    fld_uniq = np.unique(np.concatenate(fld_vocabs))
    trm_uniq = np.unique(np.concatenate(trm_vocabs))
    fld_codes = np.concatenate([
        np.searchsorted(fld_uniq, v)[c] for v, c in zip(fld_vocabs, fldc_parts)])
    trm_codes = np.concatenate([
        np.searchsorted(trm_uniq, v)[c] for v, c in zip(trm_vocabs, trmc_parts)])
    doc_ids = np.concatenate(doc_parts).astype(np.uint64)
    buckets = np.concatenate(bkt_parts)
    pos = np.concatenate(pos_parts)
    del doc_parts, bkt_parts, fldc_parts, trmc_parts, pos_parts, fld_vocabs, trm_vocabs
    yield _encode_positions(buckets, fld_codes, fld_uniq, trm_codes, trm_uniq,
                            doc_ids, pos)


def _encode_positions(buckets, fld_codes, fld_uniq, trm_codes, trm_uniq,
                      doc_ids, pos) -> pd.DataFrame:
    """The one positions writer, shared by build and merge: occurrence
    rows (bucket, field, term, doc, absolute position), in any order,
    one doc per (bucket, field, term) → one row per (bucket, field,
    term), every blob cut from a single vectorized varint pass."""
    # sort to (bucket, field, term, doc_id, pos): doc runs ascend by id,
    # positions ascend within a doc
    order = np.lexsort((pos, doc_ids, trm_codes, fld_codes, buckets))
    doc_ids, pos = doc_ids[order], pos[order]
    buckets, fld_codes, trm_codes = buckets[order], fld_codes[order], trm_codes[order]

    group_key = (buckets.astype(np.int64) * len(fld_uniq) + fld_codes) \
        * len(trm_uniq) + trm_codes
    g_change = np.empty(group_key.size, dtype=bool)
    g_change[0] = True
    np.not_equal(group_key[1:], group_key[:-1], out=g_change[1:])
    starts = np.flatnonzero(g_change)
    ends = np.concatenate([starts[1:], [group_key.size]])

    # per-doc runs within each group (doc change OR group change)
    d_change = np.empty(group_key.size, dtype=bool)
    d_change[0] = True
    np.not_equal(doc_ids[1:], doc_ids[:-1], out=d_change[1:])
    d_change |= g_change
    doc_starts = np.flatnonzero(d_change)
    doc_run_ends = np.concatenate([doc_starts[1:], [group_key.size]])

    # positions blob: absolute at each doc start, delta inside a doc
    pdeltas = np.empty_like(pos)
    pdeltas[0] = pos[0]
    np.subtract(pos[1:], pos[:-1], out=pdeltas[1:])
    pdeltas[doc_starts] = pos[doc_starts]

    # doc-run space: per-group ranges, tf per run, delta-gap doc ids
    g_doc_lo = np.searchsorted(doc_starts, starts, side="left")
    g_doc_hi = np.searchsorted(doc_starts, ends, side="left")
    run_ids = doc_ids[doc_starts]
    tf_per_doc = (doc_run_ends - doc_starts).astype(np.uint64)
    id_deltas = np.empty_like(run_ids)
    id_deltas[0] = run_ids[0]
    np.subtract(run_ids[1:], run_ids[:-1], out=id_deltas[1:])
    id_deltas[g_doc_lo] = run_ids[g_doc_lo]

    def blobs(arr, lo, hi):
        buf, nbytes = _varint_encode_with_sizes(arr)
        off = np.concatenate(([0], np.cumsum(nbytes)))
        raw = buf.tobytes()
        return [raw[off[s]:off[e]] for s, e in zip(lo, hi)]

    return pd.DataFrame({
        "term": trm_uniq[trm_codes[starts]],
        "field": fld_uniq[fld_codes[starts]],
        "bucket": [int(b) for b in buckets[starts]],
        "df": (g_doc_hi - g_doc_lo).astype("int64"),
        "doc_ids": blobs(id_deltas, g_doc_lo, g_doc_hi),
        "tfs": blobs(tf_per_doc, g_doc_lo, g_doc_hi),
        "pos": blobs(pdeltas, starts, ends),
    })[_POS_COLS]


def _merge_positions(batches, drop: np.ndarray | None = None):
    """mapInPandas kernel, the positional twin of
    index._bucket_local_merge: every positions row of ≥1 whole buckets
    (base + delta batches) → one row per (bucket, field, term). Decodes
    every row, keeps the first copy of each doc not in ``drop`` and
    re-encodes through :func:`_encode_positions`."""
    frames = [pdf for pdf in batches if len(pdf)]
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    dfs = pdf["df"].to_numpy(dtype=np.int64)
    doc_ids = delta_decode_runs(pdf["doc_ids"], dfs)
    tfs = varint_decode(b"".join(pdf["tfs"])).astype(np.int64)
    pos = delta_decode_runs(pdf["pos"], tfs)  # first position of a doc is absolute
    fld_codes, fld_uniq = pd.factorize(pdf["field"], sort=True)
    trm_codes, trm_uniq = pd.factorize(pdf["term"], sort=True)
    buckets, fld_codes, trm_codes = (
        np.repeat(a, dfs) for a in (pdf["bucket"].to_numpy(), fld_codes, trm_codes))
    keep = _first_copies(buckets, fld_codes, trm_codes, doc_ids)
    if drop is not None:
        keep &= ~np.isin(doc_ids, np.asarray(drop, dtype=np.uint64))
        if not keep.any():
            return
    occ = np.repeat(keep, tfs)
    buckets, fld_codes, trm_codes, doc_ids = (
        np.repeat(a, tfs)[occ] for a in (buckets, fld_codes, trm_codes, doc_ids))
    yield _encode_positions(buckets, fld_codes, np.asarray(fld_uniq),
                            trm_codes, np.asarray(trm_uniq), doc_ids, pos[occ])


def build_positions(spark: SparkSession, docs: DataFrame, out_dir: str,
                    n_partitions: int, clustered: bool = False) -> None:
    """Write the positions table for prepared live docs (same bucket
    shuffle + dynamic-partition-overwrite discipline as the postings
    sink — idempotent, resume-safe at bucket granularity).
    ``clustered=True`` promises the input is already hash-partitioned
    by bucket (build_index's single-shuffle persist) — no re-shuffle."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    pdocs = docs.select("doc_id", "bucket", "content", "lang", "repo", "path")
    if not clustered:
        pdocs = pdocs.repartition(max(n_partitions, 1), "bucket")
    (
        pdocs.mapInPandas(_bucket_local_positions, schema=POSITIONS_SCHEMA)
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(str(Path(out_dir) / "positions"))
    )


def encode_positions_row(ids: np.ndarray, plists: list[np.ndarray]) -> dict:
    """Inverse of :func:`decode_positions_row` for one (field, term,
    bucket) row — the per-row reference that tests hold the vectorized
    :func:`_encode_positions` to; no engine path calls it.
    ``ids`` ascending, ``plists[i]`` = absolute positions of doc i."""
    from ftidx.codec import delta_encode, varint_encode

    ids = np.asarray(ids, dtype=np.uint64)
    tfs = np.array([p.size for p in plists], dtype=np.uint64)
    deltas = [delta_encode(np.asarray(p, dtype=np.uint64)) for p in plists]
    flat = np.concatenate(deltas) if deltas else np.empty(0, np.uint64)
    return {
        "df": int(ids.size),
        "doc_ids": varint_encode(delta_encode(ids)),
        "tfs": varint_encode(tfs),
        "pos": varint_encode(flat),
    }


def decode_positions_row(row: dict) -> tuple[np.ndarray, list[np.ndarray]]:
    """One positions row → (ascending doc ids, list of per-doc absolute
    position arrays, aligned index-for-index)."""
    ids = delta_decode(varint_decode(row["doc_ids"]))
    tfs = varint_decode(row["tfs"])
    deltas = varint_decode(row["pos"])
    cuts = np.cumsum(tfs.astype(np.int64))[:-1]
    return ids, [np.cumsum(d) for d in np.split(deltas, cuts)]


def _per_term_doc_positions(pos_rows_by_term: dict[str, list[dict]],
                            terms: list[str]) -> list[dict[int, np.ndarray]] | None:
    """Decode each term's rows into {doc_id: ascending positions};
    ``None`` if any term is entirely absent (empty intersection)."""
    per_term: list[dict[int, np.ndarray]] = []
    for t in terms:
        doc_pos: dict[int, np.ndarray] = {}
        for row in pos_rows_by_term.get(t, []):
            ids, plists = decode_positions_row(row)
            for d, pl in zip(ids.astype(np.int64), plists):
                prev = doc_pos.get(int(d))
                # same doc across segments (post-compaction single
                # segment is the norm; merge defensively)
                doc_pos[int(d)] = pl if prev is None else np.union1d(prev, pl)
        if not doc_pos:
            return None
        per_term.append(doc_pos)
    return per_term


def near_docs(pos_rows_by_term: dict[str, list[dict]],
              terms: list[str], window: int) -> np.ndarray:
    """Unordered proximity ("a b"~N analog): ascending doc ids where
    some choice of one occurrence per term spans ≤ ``window`` token
    positions (max chosen position − min chosen position ≤ window).

    Verification is the classic minimum-covering-window two-pointer
    over the merged, label-tagged position stream — O(total
    occurrences) per candidate doc, exact for any term count."""
    n = len(terms)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    per_term = _per_term_doc_positions(pos_rows_by_term, list(terms))
    if per_term is None:
        return np.empty(0, dtype=np.int64)
    cand = set(per_term[0])
    for dp in per_term[1:]:
        cand &= set(dp)
    out = []
    for d in sorted(cand):
        pos = np.concatenate([dp[d] for dp in per_term]).astype(np.int64)
        lab = np.concatenate([
            np.full(per_term[i][d].size, i, dtype=np.int32) for i in range(n)])
        order = np.argsort(pos, kind="stable")
        pos, lab = pos[order], lab[order]
        need, have, counts = n, 0, np.zeros(n, dtype=np.int64)
        left, hit = 0, False
        for right in range(pos.size):
            if counts[lab[right]] == 0:
                have += 1
            counts[lab[right]] += 1
            while have == need:
                if pos[right] - pos[left] <= window:
                    hit = True
                    break
                counts[lab[left]] -= 1
                if counts[lab[left]] == 0:
                    have -= 1
                left += 1
            if hit:
                break
        if hit:
            out.append(d)
    return np.asarray(out, dtype=np.int64)


def phrase_docs(pos_rows_by_term: dict[str, list[dict]],
                phrase: list[str]) -> np.ndarray:
    """Exact phrase verification from positions rows alone: ascending
    doc ids containing the phrase terms at consecutive positions.
    A term with no rows (absent from the field) ⇒ empty result."""
    per_term = _per_term_doc_positions(pos_rows_by_term, list(phrase))
    if per_term is None:
        return np.empty(0, dtype=np.int64)

    cand = set(per_term[0])
    for dp in per_term[1:]:
        cand &= set(dp)
    out = []
    for d in sorted(cand):
        chain = per_term[0][d]
        for dp in per_term[1:]:
            chain = np.intersect1d(chain + np.uint64(1), dp[d])
            if chain.size == 0:
                break
        if chain.size:
            out.append(d)
    return np.asarray(out, dtype=np.int64)
