"""Positional postings + phrase queries: blob round-trip vs the
pure-Python tokenizer spec, phrase matching vs a brute-force oracle,
BM25 phrase ranking, and maintenance consistency."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ftidx.build import prepare_docs
from ftidx.index import build_index, open_index
from ftidx.positions import decode_positions_row, phrase_docs
from ftidx.synth import synth_source
from ftidx.tokenize import tokenize_doc


@pytest.fixture(scope="module")
def pidx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pos") / "idx")
    src = synth_source(spark, 150)
    build_index(spark, src, out, n_buckets=4, hot_df_threshold=50, positions=True)
    docs = {
        r["doc_id"]: r
        for r in prepare_docs(src, 4)
        .filter((~F.col("deleted")) & F.col("content").isNotNull())
        .collect()
    }
    return out, docs


def _spec_tokens(row, field):
    return tokenize_doc(row["content"], row["lang"], row["repo"], row["path"]).get(field, [])


def _pos_rows(spark, out, field, terms):
    rows = (
        spark.read.parquet(f"{out}/positions")
        .filter((F.col("field") == field) & F.col("term").isin(list(terms)))
        .collect()
    )
    by_term = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r.asDict())
    return by_term


def test_positions_match_tokenizer_spec(spark, pidx):
    """Decoded positions == occurrence indexes from the per-doc spec,
    for every (doc, term) of several probe terms."""
    out, docs = pidx
    for field, probes in [("code.content", ["def", "return", "alpha"]),
                          ("code.ident.split", ["merge", "index"])]:
        by_term = _pos_rows(spark, out, field, probes)
        for term in probes:
            got: dict[int, list[int]] = {}
            for row in by_term.get(term, []):
                ids, plists = decode_positions_row(row)
                for d, pl in zip(ids.astype(np.int64), plists):
                    got[int(d)] = pl.astype(np.int64).tolist()
            want = {}
            for d, r in docs.items():
                toks = _spec_tokens(r, field)
                pos = [i for i, t in enumerate(toks) if t == term]
                if pos:
                    want[d] = pos
            assert got == want, f"{field}:{term}"


def test_phrase_docs_vs_bruteforce(spark, pidx):
    """phrase_docs == scanning every doc's token stream for the
    phrase, for real phrases and a non-occurring one."""
    out, docs = pidx
    field = "code.content"
    # take real consecutive token runs from two docs as probe phrases
    sample = sorted(docs)[3]
    toks = _spec_tokens(docs[sample], field)
    phrases = [toks[0:2], toks[2:5], ["def", "zzz_never_a_term"]]
    for phrase in phrases:
        by_term = _pos_rows(spark, out, field, set(phrase))
        got = set(phrase_docs(by_term, phrase).tolist())
        want = set()
        for d, r in docs.items():
            dt = _spec_tokens(r, field)
            if any(dt[i:i + len(phrase)] == phrase
                   for i in range(len(dt) - len(phrase) + 1)):
                want.add(d)
        assert got == want, f"phrase {phrase}"
        if phrase == phrases[0]:
            assert sample in got  # the source doc matches its own phrase


def test_phrase_topk_ranking_and_guards(spark, pidx):
    out, docs = pidx
    idx = open_index(spark, out)
    sample = sorted(docs)[3]
    toks = _spec_tokens(docs[sample], "code.content")
    phrase = toks[0:2]
    hits = idx.phrase_topk(phrase, k=1000)
    assert hits and sample in [d for d, _ in hits]
    scores = [s for _, s in hits]
    assert scores == sorted(scores, reverse=True)
    # every hit's score equals the BM25 sum of the phrase terms for
    # that doc (term path restricted to the hit)
    term_scores = dict(idx.topk(phrase, k=10_000, kernel="exhaustive"))
    for d, s in hits:
        assert s == pytest.approx(term_scores[d], rel=1e-9)
    assert idx.phrase_topk(phrase, k=0) == []
    assert idx.phrase_topk(["zzz_never", "here"], k=5) == []


def test_phrase_topk_requires_positions(spark, tmp_path):
    out = str(tmp_path / "npidx")
    build_index(spark, synth_source(spark, 40), out, n_buckets=2)
    idx = open_index(spark, out)
    with pytest.raises(ValueError, match="positions=True"):
        idx.phrase_topk(["def", "value"], k=3)


def test_compaction_rewrites_positions(spark, tmp_path):
    from ftidx.maintenance import compact

    out = str(tmp_path / "idx")
    src = synth_source(spark, 120)
    build_index(spark, src, out, n_buckets=4, hot_df_threshold=50, positions=True)
    docs = {
        r["doc_id"]: r
        for r in prepare_docs(src, 4)
        .filter((~F.col("deleted")) & F.col("content").isNotNull()).collect()
    }
    idx = open_index(spark, out)
    victim = sorted(docs)[0]
    toks = _spec_tokens(docs[victim], "code.content")
    phrase = toks[0:2]
    assert victim in [d for d, _ in idx.phrase_topk(phrase, k=50)]
    idx.delete([victim])
    # tombstone masks immediately, compaction makes it durable
    assert victim not in [d for d, _ in idx.phrase_topk(phrase, k=50)]
    compact(spark, out)
    idx.refresh()
    assert victim not in [d for d, _ in idx.phrase_topk(phrase, k=50)]
    by_term = _pos_rows(spark, out, "code.content", set(phrase))
    assert victim not in set(phrase_docs(by_term, phrase).tolist())


def test_near_docs_vs_bruteforce(spark, pidx):
    """near_docs == brute-force minimum-span check over every doc's
    token stream, across windows and term counts."""
    from ftidx.positions import near_docs

    out, docs = pidx
    field = "code.content"
    sample = sorted(docs)[5]
    toks = _spec_tokens(docs[sample], field)
    # pairs at controlled distances plus a 3-term probe
    probes = [([toks[0], toks[4]], 4), ([toks[0], toks[4]], 3),
              ([toks[1], toks[7]], 10), ([toks[0], toks[2], toks[5]], 6),
              (["def", "zzz_never_a_term"], 50)]
    for terms, window in probes:
        by_term = _pos_rows(spark, out, field, set(terms))
        got = set(near_docs(by_term, terms, window).tolist())
        want = set()
        for d, r in docs.items():
            dt = _spec_tokens(r, field)
            pos = [[i for i, t in enumerate(dt) if t == q] for q in terms]
            if any(not p for p in pos):
                continue
            # brute force: try every combination's span
            import itertools

            if min(max(c) - min(c) for c in itertools.product(*pos)) <= window:
                want.add(d)
        assert got == want, f"near {terms}~{window}"


def test_near_topk_ranking(spark, pidx):
    out, docs = pidx
    idx = open_index(spark, out)
    sample = sorted(docs)[5]
    toks = _spec_tokens(docs[sample], "code.content")
    terms = [toks[0], toks[4]]
    hits = idx.near_topk(terms, window=4, k=1000)
    assert sample in [d for d, _ in hits]
    # window=0 requires all terms at ONE position — impossible for
    # distinct terms, so the result must be empty
    if terms[0] != terms[1]:
        assert idx.near_topk(terms, window=0, k=1000) == []
    # scores equal the plain BM25 sum restricted to verified docs
    term_scores = dict(idx.topk(terms, k=10_000, kernel="exhaustive"))
    for d, s in hits:
        assert s == pytest.approx(term_scores[d], rel=1e-9)
    # wider window only adds docs
    wide = {d for d, _ in idx.near_topk(terms, window=50, k=10_000)}
    assert {d for d, _ in hits} <= wide
    assert idx.near_topk(terms, k=0) == []
    assert idx.near_topk([], k=5) == []


def test_topk_phrase_boosted(spark, pidx):
    """pf= boost: score == exhaustive BM25 + pf·Σidf for phrase docs,
    plain BM25 otherwise; phrase docs float above equal-score peers."""
    out, docs = pidx
    idx = open_index(spark, out)
    sample = sorted(docs)[3]
    phrase = _spec_tokens(docs[sample], "code.content")[0:2]

    base = dict(idx.topk(phrase, k=10_000, kernel="exhaustive"))
    phrase_docs_set = {d for d, _ in idx.phrase_topk(phrase, k=10_000)}
    assert phrase_docs_set  # fixture guarantees at least `sample`

    lists, _ = idx._term_lists(phrase, "code.content")
    bonus = 2.0 * sum(tl.idf for tl in lists)
    expect = sorted(
        ((d, s + (bonus if d in phrase_docs_set else 0.0))
         for d, s in base.items()),
        key=lambda kv: (-kv[1], kv[0]))[:15]
    got = idx.topk_phrase_boosted(phrase, k=15, pf_weight=2.0)
    assert [d for d, _ in got] == [d for d, _ in expect]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, expect))

    # k=0 / unknown term guards
    assert idx.topk_phrase_boosted(phrase, k=0) == []
    assert idx.topk_phrase_boosted(["zzz_never"], k=5) == []


def test_phrase_boost_slop_ps(spark, tmp_path):
    """ps= (Solr phrase slop on the pf bonus): terms within the slop
    window earn the bonus that exact adjacency alone would miss;
    slop=0 stays the strict phrase; negative slop refuses."""
    from ftidx.index import build_index, open_index

    docs = [
        ("r", f"a{i}.py", "c", "python",
         {0: "alpha beta gap gap tail",     # adjacent
          1: "alpha gap beta tail tail",    # 1 apart (slop 1)
          2: "alpha gap gap gap beta",      # 4-window (slop 3)
          3: "beta only here with filler"}[i], False)
        for i in range(4)
    ]
    from datetime import datetime

    src = spark.createDataFrame(
        [(r, p, c, l, t, d, datetime(2026, 1, 1))
         for r, p, c, l, t, d in docs],
        "repo string, path string, commit string, lang string, "
        "content string, deleted boolean, modified timestamp")
    out = str(tmp_path / "psidx")
    build_index(spark, src, out, n_buckets=2, positions=True)
    idx = open_index(spark, out)

    base = dict(idx.topk_phrase_boosted(
        ["alpha", "beta"], k=4, pf_weight=0.0))

    def boosted(slop):
        got = dict(idx.topk_phrase_boosted(
            ["alpha", "beta"], k=4, pf_weight=5.0, slop=slop))
        return {d for d, s in got.items() if s > base[d] + 1e-9}

    strict = boosted(0)
    one = boosted(1)
    wide = boosted(3)
    assert len(strict) == 1          # only the adjacent doc
    assert strict < one < wide       # each slop level adds its doc
    assert len(wide) == 3
    import pytest as _pt
    with _pt.raises(ValueError, match="slop"):
        idx.topk_phrase_boosted(["alpha", "beta"], slop=-1)


def test_positions_merge_matches_per_group_encode():
    """The per-bucket positions merge equals the per-group reference:
    decode every segment, keep each doc once unless it is in the drop
    set, encode_positions_row."""
    import pandas as pd

    from ftidx.positions import _POS_COLS, _merge_positions, encode_positions_row

    rng = np.random.default_rng(5)
    rows, groups = [], {}
    for b in range(2):
        for term in ("alpha", "beta"):
            ids = np.sort(rng.choice(1 << 40, 60, replace=False)).astype(np.uint64)
            plists = [np.sort(rng.choice(1000, rng.integers(1, 6), replace=False))
                      .astype(np.uint64) for _ in ids]
            # later segments repeat docs of earlier ones (a redelivery)
            for sl in (np.r_[0:20], np.r_[0:5, 20:45], np.r_[3:8, 45:60]):
                rows.append({"term": term, "field": "code.content", "bucket": b,
                             **encode_positions_row(ids[sl], [plists[i] for i in sl])})
            groups[(term, "code.content", b)] = (ids, plists)
    pdf = pd.DataFrame(rows)[_POS_COLS].sample(frac=1, random_state=2)
    every = np.concatenate([ids for ids, _ in groups.values()])
    for drop in (None, every[every % 3 == 0].astype(np.int64)):
        out = pd.concat(list(_merge_positions([pdf.iloc[:4], pdf.iloc[4:]], drop=drop)))
        got = {(r["term"], r["field"], r["bucket"]): {c: r[c] for c in ("df", "doc_ids", "tfs", "pos")}
               for r in out.to_dict("records")}
        want = {}
        for key, (ids, plists) in groups.items():
            keep = [i for i, d in enumerate(ids) if drop is None or d % 3 != 0]
            want[key] = encode_positions_row(ids[keep], [plists[i] for i in keep])
        assert got == want
    assert list(_merge_positions([pdf], drop=every.astype(np.int64))) == []
