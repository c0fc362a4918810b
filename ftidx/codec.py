"""Posting-list codec: delta-gap + LEB128 varint, numpy-vectorized.

This is the compression layer Solr/Lucene provides the reference for
free (pom.xml:32-36 — the service never sees it); here it is built
from scratch with no per-element Python:

- **encode**: byte widths via 9 exact range comparisons (no float
  log2), prefix-sum offsets, then ≤10 vectorized scatter passes —
  one per varint byte position.
- **decode**: continuation-bit flags → group boundaries via
  flatnonzero/cumsum, payload shifted by position-within-group and
  accumulated with ``np.add.at``.

Block-max metadata (128-entry blocks: per-block max tf, min doc
length, last doc id) is computed at encode time and stored with each
segment. No scoring kernel reads it any more — wand.py bounds whole
lists by their memoised contributions — but the benchmark's probe
(``perfbench/layers.py``) still selects the columns.
"""

from __future__ import annotations

import numpy as np

BLOCK = 128

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * i) for i in range(1, 10)]


def _varint_encode_with_sizes(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 encode → (byte buffer, per-value byte counts)."""
    if arr.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nbytes = np.ones(arr.size, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += arr >= t
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        payload = (arr[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[offsets[mask] + j] = payload.astype(np.uint8) | cont
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    buf, _ = _varint_encode_with_sizes(arr)
    return buf.tobytes()


def varint_decode(blob: bytes) -> np.ndarray:
    """Inverse of :func:`varint_encode` → uint64 array."""
    b = np.frombuffer(blob, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    n = len(ends)
    group = np.repeat(np.arange(n), lengths)
    pos = np.arange(b.size) - np.repeat(starts, lengths)
    payload = (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    values = np.zeros(n, dtype=np.uint64)
    np.add.at(values, group, payload)
    return values


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    arr = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if arr.size == 0:
        return arr
    gaps = np.empty_like(arr)
    gaps[0] = arr[0]
    np.subtract(arr[1:], arr[:-1], out=gaps[1:])
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(gaps, dtype=np.uint64)


def delta_decode_runs(blobs, counts: np.ndarray) -> np.ndarray:
    """Many delta-gap blobs, blob ``i`` holding ``counts[i]`` values →
    their values concatenated: one varint pass, one prefix sum, and
    each run's prefix subtracted (uint64 wrap-around cancels exactly)."""
    gaps = varint_decode(b"".join(blobs))
    vals = np.cumsum(gaps, dtype=np.uint64)
    starts = np.cumsum(counts) - counts
    return vals - np.repeat(vals[starts] - gaps[starts], counts)


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, doclens: np.ndarray | None = None
) -> dict:
    """One term's postings → compressed blobs + block-max metadata.

    Inputs need not be pre-sorted; sorting by doc_id happens here (the
    single place ordering is enforced → merge determinism). The per-doc
    field length rides along as a third varint blob (``dls``) — the
    norms analog — so query-side scoring never joins a doclen table.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    order = np.argsort(doc_ids, kind="stable")
    doc_ids, tfs = doc_ids[order], tfs[order]
    if doclens is None:
        doclens = np.ones_like(tfs)
    else:
        doclens = np.asarray(doclens, dtype=np.uint64)[order]

    n = doc_ids.size
    nblocks = -(-n // BLOCK) if n else 0
    block_max_tf, block_min_dl, block_last = [], [], []
    for bi in range(nblocks):
        s, e = bi * BLOCK, min(n, (bi + 1) * BLOCK)
        block_max_tf.append(int(tfs[s:e].max()))
        block_min_dl.append(int(doclens[s:e].min()))
        block_last.append(int(doc_ids[e - 1]))
    return {
        "df": int(n),
        "cf": int(tfs.sum()),
        "doc_ids": varint_encode(delta_encode(doc_ids)),
        "tfs": varint_encode(tfs),
        "dls": varint_encode(doclens),
        "block_max_tf": block_max_tf,
        "block_min_dl": block_min_dl,
        "block_last_docid": block_last,
    }


def decode_postings(
    doc_ids_blob: bytes, tfs_blob: bytes, dls_blob: bytes | None = None
) -> tuple[np.ndarray, ...]:
    ids = delta_decode(varint_decode(doc_ids_blob))
    tfs = varint_decode(tfs_blob)
    if dls_blob is None:
        return ids, tfs
    return ids, tfs, varint_decode(dls_blob)


def encode_many(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
    starts: np.ndarray, ends: np.ndarray,
) -> dict[str, list]:
    """Encode MANY posting lists in one vectorized pass.

    Inputs are the whole partition's rows, group g occupying
    [starts[g], ends[g]) and already sorted by doc_id within each
    group. Per-group delta-gap (first value absolute), one global
    varint pass per blob, per-group byte-range slicing, and block
    metadata via ``reduceat`` — byte-identical to calling
    :func:`encode_postings` per group, but ~two orders of magnitude
    less per-group Python overhead (this is what makes millions of
    tiny term groups affordable).
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    dls = np.ascontiguousarray(dls, dtype=np.uint64)
    n = doc_ids.size
    G = starts.size
    change = np.zeros(n, dtype=bool)
    change[starts] = True
    gaps = np.empty_like(doc_ids)
    gaps[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    gaps[starts] = doc_ids[starts]

    out: dict[str, list] = {k: [] for k in (
        "df", "cf", "doc_ids", "tfs", "dls",
        "block_max_tf", "block_min_dl", "block_last_docid")}

    dfs = (ends - starts).astype(np.int64)
    out["df"] = dfs.tolist()
    out["cf"] = np.add.reduceat(tfs.astype(np.int64), starts).tolist()

    for name, arr in (("doc_ids", gaps), ("tfs", tfs), ("dls", dls)):
        buf, nbytes = _varint_encode_with_sizes(arr)
        byte_off = np.concatenate(([0], np.cumsum(nbytes)))
        raw = buf.tobytes()
        bs = byte_off[starts]
        be = byte_off[ends]
        out[name] = [raw[s:e] for s, e in zip(bs, be)]

    # block metadata: global block starts tile the whole array exactly
    nblocks = -(-dfs // BLOCK)
    total_b = int(nblocks.sum())
    grp_of_b = np.repeat(np.arange(G), nblocks)
    b_in_grp = np.arange(total_b) - np.repeat(np.cumsum(nblocks) - nblocks, nblocks)
    b_start = starts[grp_of_b] + BLOCK * b_in_grp
    b_end = np.minimum(b_start + BLOCK, ends[grp_of_b])
    bmax_tf = np.maximum.reduceat(tfs, b_start).astype(np.int64)
    bmin_dl = np.minimum.reduceat(dls, b_start).astype(np.int64)
    blast = doc_ids[b_end - 1].astype(np.int64)
    # plain slice views, not np.split: array_split pays ~µs of
    # swapaxes/validation per chunk, which dominates at millions of
    # tiny term groups (measured ~0.7 s of a 4 s kernel on 20k files)
    boff = np.concatenate(([0], np.cumsum(nblocks)))
    out["block_max_tf"] = [bmax_tf[boff[g]:boff[g + 1]] for g in range(G)]
    out["block_min_dl"] = [bmin_dl[boff[g]:boff[g + 1]] for g in range(G)]
    out["block_last_docid"] = [blast[boff[g]:boff[g + 1]] for g in range(G)]
    return out
