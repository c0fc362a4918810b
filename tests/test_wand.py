"""Direct kernel tests for wand.py: the pruned kernel must be
bit-identical to exhaustive scoring on each of its two plans (probe the
non-essential lists, or the memoised scatter-add), including
overlapping segments (streaming hash-id deltas), ties at the threshold
and rows scored under more than one idf."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ftidx import wand
from ftidx.codec import encode_postings
from ftidx.wand import TermList, bm25_idf, score_block_max, score_exhaustive


def make_list(term, segments, n_docs_corpus):
    """segments: list of {doc_id: (tf, dl)} dicts (disjoint doc sets)."""
    rows = []
    total_df = 0
    for seg in segments:
        ids = np.array(sorted(seg), dtype=np.uint64)
        tfs = np.array([seg[d][0] for d in sorted(seg)], dtype=np.uint64)
        dls = np.array([seg[d][1] for d in sorted(seg)], dtype=np.uint64)
        rows.append(encode_postings(ids, tfs, dls))
        total_df += len(seg)
    return TermList(term, rows, bm25_idf(n_docs_corpus, total_df))


def plan(lists, avgdl, k) -> str:
    """The plan score_block_max takes on these lists."""
    lists = sorted(lists, key=lambda t: (t.df, t.term))
    rows = [tl.contribs(avgdl) for tl in lists]
    return "probe" if wand._nonessential(lists, rows, k) else "scatter"


def assert_identical(lists, avgdl, k):
    """score_block_max == score_exhaustive, ids and scores bit for bit,
    each decoding and scoring its own memo-free copy of the rows."""
    def fresh():
        return [TermList(tl.term, [{c: v for c, v in r.items()
                                    if c not in ("_dec", "_bm25")}
                                   for r in tl.rows], tl.idf)
                for tl in lists]
    ids_a, sc_a = score_exhaustive(fresh(), avgdl, k)
    ids_b, sc_b = score_block_max(fresh(), avgdl, k)
    assert np.array_equal(ids_a, ids_b)
    assert np.array_equal(sc_a, sc_b)


def rand_list(rng, term, df, n_ids, n_corpus, tf_hi=6):
    ids = np.sort(rng.choice(n_ids, size=df, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, tf_hi, size=df).astype(np.uint64)
    dls = rng.integers(10, 80, size=df).astype(np.uint64)
    return TermList(term, [encode_postings(ids, tfs, dls)], bm25_idf(n_corpus, df))


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_blockmax_equals_exhaustive_overlapping_segments(data):
    rng_seed = data.draw(st.integers(0, 10_000))
    rng = np.random.default_rng(rng_seed)
    n_corpus = 2000
    k = data.draw(st.integers(1, 20))
    n_terms = data.draw(st.integers(1, 4))
    lists = []
    for t in range(n_terms):
        n_segs = data.draw(st.integers(1, 3))
        # overlapping id ranges across segments, disjoint membership
        all_ids = rng.choice(n_corpus, size=min(n_corpus, 50 + 200 * t), replace=False)
        seg_assign = rng.integers(0, n_segs, size=all_ids.size)
        segments = []
        for s in range(n_segs):
            ids = all_ids[seg_assign == s]
            segments.append({
                int(d): (int(rng.integers(1, 8)), int(rng.integers(5, 100)))
                for d in ids
            })
        segments = [s for s in segments if s]
        if not segments:
            segments = [{0: (1, 10)}]
        lists.append(make_list(f"t{t}", segments, n_corpus))
    avgdl = 40.0
    # free probes make every prunable example take the probe plan
    with pytest.MonkeyPatch.context() as mp:
        if data.draw(st.booleans()):
            mp.setattr(wand, "PROBE_COST", 0)
            mp.setattr(wand, "ROW_PROBE_COST", 0)
        assert_identical(lists, avgdl, k)


def test_blockmax_multiblock_pruning_correct():
    """Lists long enough to span many 128-doc blocks, with a mid list
    essential and the hot one probed."""
    rng = np.random.default_rng(3)
    lists = [rand_list(rng, t, df, 10_000, 5000)
             for t, df in [("hot", 4000), ("mid", 800), ("rare", 30)]]
    assert plan(lists, 40.0, 10) == "probe"
    assert_identical(lists, 40.0, 10)


def test_rare_plus_fat_takes_probe_plan():
    """A rare list next to fat ones: the fat lists are non-essential
    and only probed for the rare list's docs."""
    rng = np.random.default_rng(5)
    lists = [rand_list(rng, "rare", 40, 20_000, 20_000, tf_hi=9),
             rand_list(rng, "fat1", 15_000, 20_000, 20_000),
             rand_list(rng, "fat2", 12_000, 20_000, 20_000)]
    for k in (1, 10, 40):
        assert plan(lists, 40.0, k) == "probe"
        assert_identical(lists, 40.0, k)


def test_probe_plan_over_overlapping_segments():
    """Streamed hash-id segments: every row of the fat list spans the
    whole id range, so each is probed for the rare list's docs."""
    rng = np.random.default_rng(8)
    ids = rng.choice(1 << 62, size=6000, replace=False)
    seg = rng.integers(0, 3, size=ids.size)
    fat = make_list("fat", [{int(d): (int(rng.integers(1, 6)), int(rng.integers(10, 80)))
                             for d in ids[seg == s]} for s in range(3)], 8000)
    rare = make_list("rare", [{int(d): (int(rng.integers(1, 9)), int(rng.integers(10, 80)))
                               for d in ids[:40]}], 8000)
    assert plan([rare, fat], 40.0, 10) == "probe"
    for k in (1, 10, 40):
        assert_identical([rare, fat], 40.0, k)


def test_probed_list_between_essential_lists():
    """A non-essential list that sorts between two essential ones in
    (df, term) order (its idf scaled down, as a qparse boost below 1
    does): its probed contributions must land at that position of each
    doc's sum, or scores drift in the last bits."""
    rng = np.random.default_rng(11)
    a = rand_list(rng, "a", 30, 3000, 3000, tf_hi=9)
    b = rand_list(rng, "b", 2000, 3000, 3000)
    c = rand_list(rng, "c", 2500, 3000, 3000, tf_hi=40)
    b.idf *= 0.01
    c.idf = a.idf
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(wand, "PROBE_COST", 0)
        mp.setattr(wand, "ROW_PROBE_COST", 0)
        lists = [a, b, c]
        assert wand._nonessential(lists, [tl.contribs(40.0) for tl in lists], 10) == {1}
        for k in (1, 10, 30):
            assert_identical(lists, 40.0, k)


def test_fat_plus_fat_takes_scatter_plan():
    """Two fat lists with equal bounds: both are essential, so the
    kernel runs the memoised scatter-add."""
    rng = np.random.default_rng(6)
    lists = [rand_list(rng, "fat1", 9000, 10_000, 10_000),
             rand_list(rng, "fat2", 9000, 10_000, 10_000)]
    assert plan(lists, 40.0, 10) == "scatter"
    assert_identical(lists, 40.0, 10)


def test_tie_exactly_at_theta():
    """A list whose bound EQUALS θ stays essential: its docs tie with
    the k-th best and win on doc_id. Counting it non-essential (a <=
    instead of <) would drop docs 0..4 from the page."""
    k = 5
    a = make_list("a", [{100 + i: (2, 20) for i in range(k + 3)}], 1000)
    b = make_list("b", [{i: (2, 20) for i in range(50)}], 1000)
    b.idf = a.idf  # same contribution on every doc of both lists
    assert plan([a, b], 20.0, k) == "scatter"
    assert_identical([a, b], 20.0, k)
    ids, _ = score_block_max([a, b], 20.0, k)
    assert ids.tolist() == list(range(k))
    # docs in both lists beat the tie; the rest tie at θ by doc_id
    c = make_list("c", [{100 + i: (2, 20) for i in range(k + 3)}], 1000)
    d = make_list("d", [{i: (1, 70) for i in range(50)} | {103: (1, 70)}], 1000)
    for kk in (1, 3, k, k + 2):
        assert_identical([c, d], 20.0, kk)


def test_k_at_least_matches():
    """k >= the number of matching docs: no list holds k postings, so
    there is no θ and every match comes back."""
    lists = [make_list("x", [{5: (2, 20), 9: (1, 10)}], 100),
             make_list("y", [{5: (1, 20), 7: (3, 30), 11: (1, 12)}], 100)]
    for k in (4, 5, 100):
        assert plan(lists, 15.0, k) == "scatter"
        assert_identical(lists, 15.0, k)
    assert sorted(score_block_max(lists, 15.0, 100)[0].tolist()) == [5, 7, 9, 11]


def test_row_scored_under_two_idfs():
    """The same cached rows scored with two idfs in turn (a qparse
    boost, an FtShards global idf) and two avgdls: each call must use
    its own contributions, never the memo of the previous one."""
    rng = np.random.default_rng(9)
    rare = rand_list(rng, "rare", 30, 5000, 5000, tf_hi=9)
    fat = rand_list(rng, "fat", 4000, 5000, 5000)
    for idf_scale, avgdl in ((1.0, 40.0), (3.0, 40.0), (3.0, 25.0), (1.0, 40.0)):
        lists = [TermList(tl.term, tl.rows, idf_scale * tl.idf)
                 for tl in (rare, fat)]
        got = score_block_max(lists, avgdl, 10)
        want = score_exhaustive(
            [TermList(tl.term, [dict(r, _dec=None, _bm25=None) for r in tl.rows],
                      tl.idf) for tl in lists], avgdl, 10)
        assert np.array_equal(got[0], want[0])
        assert np.array_equal(got[1], want[1])


def test_single_term_and_empty():
    lists = [make_list("x", [{5: (2, 20), 9: (1, 10)}], 100)]
    assert_identical(lists, 15.0, 5)
    assert score_block_max([], 15.0, 5)[0].size == 0


def test_k_zero_returns_empty():
    """k=0 must return empty, not crash (np.partition kth bound)."""
    lists = [make_list("x", [{5: (2, 20), 9: (1, 10)}], 100),
             make_list("y", [{5: (1, 20), 7: (3, 30)}], 100)]
    for fn in (score_block_max, score_exhaustive):
        ids, sc = fn(lists, 15.0, 0)
        assert ids.size == 0 and sc.size == 0
        ids, sc = fn(lists, 15.0, -1)
        assert ids.size == 0 and sc.size == 0


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_boolean_kernel_vs_bruteforce(data):
    """score_boolean == per-doc brute force for random conjunctive /
    exclusion queries over random segmented lists."""
    from ftidx.wand import bm25_contrib, score_boolean

    rng = np.random.default_rng(data.draw(st.integers(0, 10_000)))
    n_corpus = 500
    k = data.draw(st.integers(1, 15))
    n_terms = data.draw(st.integers(1, 3))
    require_all = data.draw(st.booleans())
    with_exclude = data.draw(st.booleans())

    def rand_list(name, lo, hi):
        ids = rng.choice(n_corpus, size=int(rng.integers(lo, hi)), replace=False)
        seg = {int(d): (int(rng.integers(1, 6)), int(rng.integers(5, 60)))
               for d in ids}
        return make_list(name, [seg] if seg else [{0: (1, 10)}], n_corpus)

    lists = [rand_list(f"t{t}", 20, 120) for t in range(n_terms)]
    excl = [rand_list("x0", 10, 80)] if with_exclude else []
    avgdl = 30.0

    ids_k, sc_k = score_boolean(lists, avgdl, k, require_all=require_all,
                                exclude_lists=excl)

    # brute force in plain dicts
    scores, hits = {}, {}
    for tl in lists:
        ids, tfs, dls = tl.decode_all()
        for d, c in zip(ids.tolist(),
                        bm25_contrib(tfs, dls, tl.idf, avgdl).tolist()):
            scores[d] = scores.get(d, 0.0) + c
            hits[d] = hits.get(d, 0) + 1
    banned = set()
    for xl in excl:
        banned |= set(xl.decode_all()[0].tolist())
    cand = [d for d in scores
            if d not in banned and (not require_all or hits[d] == len(lists))]
    expect = sorted(cand, key=lambda d: (-scores[d], d))[:k]
    assert ids_k.tolist() == expect
    np.testing.assert_allclose(
        sc_k, [scores[d] for d in expect], rtol=1e-12)
