"""Posting-list codec round-trip tests (property-based, hypothesis)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ftidx.codec import (
    BLOCK,
    decode_postings,
    delta_decode,
    delta_decode_runs,
    delta_encode,
    encode_postings,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_varint_edges():
    for v in [0, 1, 127, 128, 16383, 16384, 2**32, 2**63, 2**64 - 1]:
        arr = np.array([v], dtype=np.uint64)
        assert varint_decode(varint_encode(arr))[0] == v
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@given(st.sets(st.integers(min_value=0, max_value=2**62), max_size=400))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(arr)), arr)


@given(st.lists(st.sets(st.integers(min_value=0, max_value=2**62),
                       min_size=1, max_size=50), max_size=20))
@settings(max_examples=100, deadline=None)
def test_delta_decode_runs_matches_per_blob(runs):
    arrs = [np.array(sorted(r), dtype=np.uint64) for r in runs]
    blobs = [varint_encode(delta_encode(a)) for a in arrs]
    got = delta_decode_runs(blobs, np.array([a.size for a in arrs], dtype=np.int64))
    want = [delta_decode(varint_decode(b)) for b in blobs]
    assert np.array_equal(got, np.concatenate(want) if want else np.empty(0, np.uint64))


@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=2**62),
        st.integers(min_value=1, max_value=10_000),
        max_size=400,
    )
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(plist):
    ids = np.array(list(plist.keys()), dtype=np.uint64)
    tfs = np.array(list(plist.values()), dtype=np.uint64)
    enc = encode_postings(ids, tfs)
    got_ids, got_tfs = decode_postings(enc["doc_ids"], enc["tfs"])
    order = np.argsort(ids, kind="stable")
    assert np.array_equal(got_ids, ids[order])
    assert np.array_equal(got_tfs, tfs[order])
    assert enc["df"] == len(plist)
    assert enc["cf"] == int(tfs.sum())


def test_block_metadata():
    n = BLOCK * 2 + 17
    ids = np.arange(n, dtype=np.uint64) * 3
    tfs = (np.arange(n, dtype=np.uint64) % 7) + 1
    dls = (np.arange(n, dtype=np.uint64) % 50) + 10
    enc = encode_postings(ids, tfs, dls)
    assert len(enc["block_max_tf"]) == 3
    assert enc["block_last_docid"][-1] == int(ids[-1])
    for bi in range(3):
        s, e = bi * BLOCK, min(n, (bi + 1) * BLOCK)
        assert enc["block_max_tf"][bi] == int(tfs[s:e].max())
        assert enc["block_min_dl"][bi] == int(dls[s:e].min())


def test_compression_ratio_dense_ids():
    """Dense-ish doc ids (the bucketed id scheme) must compress well:
    < 2 bytes/doc for gaps ≤ 2^14."""
    ids = np.cumsum(np.ones(10_000, dtype=np.uint64) * 5)
    tfs = np.ones(10_000, dtype=np.uint64)
    enc = encode_postings(ids, tfs)
    assert len(enc["doc_ids"]) < 2 * 10_000
    assert len(enc["tfs"]) == 10_000
