"""Sharded search (FtShards): two independently built shards queried
with global statistics must rank exactly like one monolithic index
over the union corpus — layout invariance is the whole point of
distributed idf (SolrCloud ExactStatsCache analog)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ftidx.index import build_index, open_index
from ftidx.shards import FtShards
from ftidx.synth import synth_source

TERMS = ["def", "value", "merge"]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sh")
    corpus = synth_source(spark, 300).cache()
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2))
    build_index(spark, corpus, str(root / "mono"), n_buckets=4)
    build_index(spark, corpus.filter(split == 0), str(root / "s0"), n_buckets=2)
    build_index(spark, corpus.filter(split == 1), str(root / "s1"), n_buckets=2)
    mono = open_index(spark, str(root / "mono"))
    shards = FtShards.open(spark, [str(root / "s0"), str(root / "s1")])
    corpus.unpersist()
    return mono, shards


def _keyed(spark, idx_path):
    """(shard, doc_id, score) → {(repo,path,commit): score} via the
    shard's docs table (doc ids are shard-local)."""
    out = {}
    for path, rows in idx_path.items():
        docs = (spark.read.parquet(f"{path}/docs")
                .select("doc_id", "repo", "path", "commit").collect())
        m = {r["doc_id"]: (r["repo"], r["path"], r["commit"]) for r in docs}
        for d, s in rows:
            out[m[d]] = s
    return out


def test_sharded_equals_monolithic(spark, setup):
    mono, shards = setup
    big = 10**6
    mono_hits = mono.topk(TERMS, k=big, kernel="exhaustive")
    sh_hits = shards.topk(TERMS, k=big)
    assert len(mono_hits) == len(sh_hits) > 0
    # per-doc score equality keyed by the natural key
    mk = _keyed(spark, {str(mono.path): list(mono_hits)})
    sk = {}
    for path, want_si in ((str(shards.shards[0].path), 0),
                          (str(shards.shards[1].path), 1)):
        rows = [(d, s) for si, d, s in sh_hits if si == want_si]
        sk.update(_keyed(spark, {path: rows}))
    assert set(mk) == set(sk)
    for key, s in mk.items():
        assert sk[key] == pytest.approx(s, rel=1e-9)


def test_global_stats_sum(setup):
    mono, shards = setup
    n_m, avg_m = mono.stats["code.content"]
    n_g, avg_g = shards.global_stats("code.content")
    assert n_g == n_m
    assert avg_g == pytest.approx(avg_m, rel=1e-12)


def test_require_all_and_count(setup):
    mono, shards = setup
    big = 10**6
    and_m = {d for d, _ in mono.topk(["def", "value"], k=big, mode="and")}
    and_s = shards.topk(["def", "value"], k=big, require_all=True)
    assert len(and_s) == len(and_m) > 0
    assert shards.count(["def"]) == len(mono.topk(["def"], k=big,
                                                  kernel="exhaustive"))


def test_shard_tombstone_respected(setup):
    _, shards = setup
    top = shards.topk(TERMS, k=1)
    (si, d, _), = top
    shards.shards[si].delete([d])
    try:
        assert all((s2, d2) != (si, d)
                   for s2, d2, _ in shards.topk(TERMS, k=10))
    finally:
        shards.shards[si]._tombstones -= {d}


def test_guards(setup):
    _, shards = setup
    assert shards.topk([], k=5) == []
    assert shards.topk(TERMS, k=0) == []
    assert shards.topk(["zzz_nothing"], k=5) == []


def _nat(spark, path):
    docs = (spark.read.parquet(f"{path}/docs")
            .select("doc_id", "repo", "path", "commit").collect())
    return {r["doc_id"]: (r["repo"], r["path"], r["commit"]) for r in docs}


def test_sharded_expand_equals_monolithic(spark, setup):
    """Distributed collapse+expand: page structure, group membership
    and per-doc scores equal the monolithic index (global stats make
    scores shard-invariant; the group window spans shards)."""
    mono, shards = setup
    mk = _nat(spark, str(mono.path))
    sk = [_nat(spark, str(sh.path)) for sh in shards.shards]
    me = mono.expand_topk(TERMS, group_col="lang", k=5,
                          expand_rows=2).collect()
    se = shards.expand_topk(TERMS, group_col="lang", k=5,
                            expand_rows=2).collect()
    key = lambda r: (r["hit_rank"], r["section"], r["member_rank"])
    m, s = sorted(me, key=key), sorted(se, key=key)
    assert len(m) == len(s) > 5
    for a, b in zip(m, s):
        assert key(a) == key(b)
        assert a["group_value"] == b["group_value"]
        assert mk[a["doc_id"]] == sk[b["shard"]][b["doc_id"]]
        assert b["score"] == pytest.approx(a["score"], rel=1e-9)


def test_sharded_join_equals_monolithic(spark, setup):
    """Distributed {!join}: keys discovered in ANY shard filter every
    shard's outer scoring (the broadcast replaces Solr's replicated
    from-collection); result equals the monolithic join."""
    mono, shards = setup
    mk = _nat(spark, str(mono.path))
    sk = [_nat(spark, str(sh.path)) for sh in shards.shards]
    # full lists (no cut): membership is tie-closed, so the natural-key
    # sets must be identical and per-doc scores equal; the k-cut is
    # then checked against the full list's score sequence (exact-tie
    # docs may swap between deployments AT the boundary — same rule as
    # the sharded topk tie discipline)
    big = 10**6
    mm = {mk[r["doc_id"]]: (r["lang"], r["score"]) for r in
          mono.join_topk(["alpha"], ["def"], k=big, join_col="lang").collect()}
    ss = {sk[r["shard"]][r["doc_id"]]: (r["lang"], r["score"]) for r in
          shards.join_topk(["alpha"], ["def"], k=big, join_col="lang").collect()}
    assert set(mm) == set(ss) and len(mm) > 8
    for key, (lang, score) in mm.items():
        assert ss[key][0] == lang
        assert ss[key][1] == pytest.approx(score, rel=1e-9)
    sj = shards.join_topk(["alpha"], ["def"], k=8, join_col="lang").collect()
    want = sorted((s for _, s in mm.values()), reverse=True)[:8]
    assert [r["score"] for r in sj] == pytest.approx(want, rel=1e-9)


def test_sharded_edismax_equals_monolithic(spark, setup):
    """The composed edismax under shards: full-match-set natural-key
    and score equality with the monolithic index (global per-field
    stats), and the k-cut matches the full score sequence."""
    mono, shards = setup
    mk = _nat(spark, str(mono.path))
    sk = [_nat(spark, str(sh.path)) for sh in shards.shards]
    kw = dict(qf={"code.content": 1.0, "code.ident.split": 2.0},
              tie=0.3, mm=2, bq={"alpha": 0.7},
              bf="0.01 * length(path)",
              boost="1.0 + 0.001 * length(path)")
    big = 10**6
    mm_ = {mk[r["doc_id"]]: (r["score"], r["final"]) for r in
           mono.edismax(TERMS, k=big, **kw).collect()}
    ss = {sk[r["shard"]][r["doc_id"]]: (r["score"], r["final"]) for r in
          shards.edismax(TERMS, k=big, **kw).collect()}
    assert set(mm_) == set(ss) and len(mm_) > 8
    for key, (score, final) in mm_.items():
        assert ss[key][0] == pytest.approx(score, rel=1e-9)
        assert ss[key][1] == pytest.approx(final, rel=1e-9)
    cut = shards.edismax(TERMS, k=8, **kw).collect()
    want = sorted((f for _, f in mm_.values()), reverse=True)[:8]
    assert [r["final"] for r in cut] == pytest.approx(want, rel=1e-9)


def test_sharded_block_joins_equal_monolithic(spark, setup):
    """{!parent}/{!child} under shards: parents straddling shards
    aggregate correctly (union BEFORE groupBy); members carry the
    cross-shard parent score. Pinned against the monolithic calls."""
    mono, shards = setup
    for mode in ("max", "total", "avg", "min"):
        mp = mono.parent_topk(TERMS, parent_col="lang",
                              score_mode=mode, k=100).collect()
        sp = shards.parent_topk(TERMS, parent_col="lang",
                                score_mode=mode, k=100).collect()
        assert [r["parent"] for r in mp] == [r["parent"] for r in sp]
        for a, b in zip(mp, sp):
            assert b["n_children"] == a["n_children"]
            assert b["score"] == pytest.approx(a["score"], rel=1e-9)

    mk = _nat(spark, str(mono.path))
    sk = [_nat(spark, str(sh.path)) for sh in shards.shards]
    big = 10**6
    mc = {mk[r["doc_id"]]: (r["parent"], r["n_hits"], r["score"]) for r in
          mono.child_topk(TERMS, parent_col="lang", k=big).collect()}
    sc = {sk[r["shard"]][r["doc_id"]]: (r["parent"], r["n_hits"], r["score"])
          for r in shards.child_topk(TERMS, parent_col="lang",
                                     k=big).collect()}
    assert set(mc) == set(sc) and len(mc) > 10
    for key, (parent, n, score) in mc.items():
        assert sc[key][0] == parent and sc[key][1] == n
        assert sc[key][2] == pytest.approx(score, rel=1e-9)


def test_sharded_facets_equal_monolithic(setup):
    """Distributed facet merge: summed per-shard constraint lists equal
    the monolithic index's facet counts exactly (complete lists — the
    refinement-free regime)."""
    mono, shards = setup
    got = shards.facet_counts(["def"], facet="lang", k_facets=50)
    expect = [(r["value"], r["n_docs"]) for r in
              mono.facet_counts(["def"], facet="lang",
                                k_facets=50).collect()]
    assert got == expect and got


def test_sharded_vocab_components(setup):
    """Distributed /terms, suggester, and wildcard expansion: the
    2-shard merge equals the monolithic index's answer — complete
    per-shard constraint lists, dfs summed, global order re-applied."""
    mono, shards = setup
    assert shards.terms_enum(limit=15) == mono.terms_enum(limit=15)
    assert shards.terms_enum(prefix="re", sort="index", limit=50) == \
        mono.terms_enum(prefix="re", sort="index", limit=50)
    # global mincount: apply to the summed df (mono is the oracle)
    assert shards.terms_enum(mincount=10, limit=50) == \
        mono.terms_enum(mincount=10, limit=50)
    assert shards.suggest_terms("re") == mono.suggest_terms("re")
    assert shards.suggest_terms("") == []
    assert shards.suggest_terms("al", infix=True, limit=20) == \
        mono.suggest_terms("al", infix=True, limit=20)
    assert shards.wildcard_terms("re*") == mono.wildcard_terms("re*")
    assert shards.wildcard_terms("v?lue") == mono.wildcard_terms("v?lue")
    assert shards.terms_enum(limit=15)  # non-trivial


def test_sharded_fuzzy_and_spellcheck(setup):
    """Distributed fuzzy expansion and spellcheck equal the
    monolithic index (global dfs, same (dist, df DESC, term) rank)."""
    mono, shards = setup
    assert shards.fuzzy_terms("deff", max_dist=1) == \
        mono.fuzzy_terms("deff", max_dist=1)
    assert shards.fuzzy_terms("retur", max_dist=2, limit=5) == \
        mono.fuzzy_terms("retur", max_dist=2, limit=5)
    sc_s = shards.spellcheck(["def", "retunr", "zzzzqqqq"])
    sc_m = mono.spellcheck(["def", "retunr", "zzzzqqqq"])
    assert sc_s == sc_m and sc_s["changed"]
    assert shards.fuzzy_terms("deff", max_dist=1)  # non-trivial


def test_sharded_phonetic_equals_monolithic(setup):
    """Distributed soundex expansion equals the monolithic index
    (global dfs, same df DESC / term ASC rank)."""
    mono, shards = setup
    for q in ("def", "handler", "return"):
        assert shards.phonetic_terms(q) == mono.phonetic_terms(q)
    assert shards.phonetic_terms("handler")  # non-trivial
    assert shards.phonetic_terms("42") == []


def test_sharded_significant_terms_equals_monolithic(setup):
    """Distributed significantTerms is EXACT: per-shard aggregates
    summed, bounds + JLH applied once with global stats — results
    layout-invariant vs the monolithic index."""
    mono, shards = setup
    for q in (["def"], ["def", "return"]):
        m = [(r["term"], r["fg_df"], r["bg_df"], r["score"]) for r in
             mono.significant_terms(q, limit=15, min_doc_freq=2,
                                    max_doc_freq=0.9).collect()]
        s = [(r["term"], r["fg_df"], r["bg_df"], r["score"]) for r in
             shards.significant_terms(q, limit=15, min_doc_freq=2,
                                      max_doc_freq=0.9).collect()]
        assert m == s and m


def test_sharded_export_is_layout_invariant(setup):
    """Sorted export over shards: natural-key sequence equals the
    monolithic export under a unique total sort."""
    mono, shards = setup
    sort = "repo asc, path asc, commit asc"
    fl = ["repo", "path", "commit"]
    m = [(r["repo"], r["path"], r["commit"]) for r in
         mono.export(["def"], sort, fl).collect()]
    s = [(r["repo"], r["path"], r["commit"]) for r in
         shards.export(["def"], sort, fl).collect()]
    assert m == s and len(m) > 50
    assert shards.export(["def"], sort, ["shard", "path"]).columns \
        == ["shard", "path"]
    import pytest as _pt
    with _pt.raises(ValueError, match="sort"):
        shards.export(["def"], "", fl)


def test_sharded_range_facets_equal_monolithic(setup):
    """Range and date-range facet merges: bucket identity is a pure
    function of (start, gap), so summed shard buckets equal the
    monolithic histograms exactly."""
    mono, shards = setup
    # numeric merge: `bucket` is the only numeric docs column and its
    # ordinals are layout-DEPENDENT (4-bucket mono vs 2-bucket
    # shards), so pin count conservation here; the per-bucket exact
    # equality of the shared Counter-merge is pinned by the
    # layout-invariant date column below
    m = [(float(r["bucket_start"]), int(r["n_docs"])) for r in
         mono.facet_range(["def"], facet="bucket", start=0,
                          end=8, gap=2).collect()]
    s2 = shards.facet_range(["def"], facet="bucket", start=0, end=8, gap=2)
    assert sum(n for _, n in s2) == sum(n for _, n in m) and m and s2
    md = [(r["bucket_start"], int(r["n_docs"])) for r in
          mono.facet_range_date(["def"], "2024-01-05 03:00:00",
                                "2024-12-20 00:00:00",
                                "+20DAY").collect()]
    assert shards.facet_range_date(["def"], "2024-01-05 03:00:00",
                                   "2024-12-20 00:00:00",
                                   "+20DAY") == md and md


def test_match_stats_layout_invariant(spark, setup):
    """Sharded stats == monolithic stats on the same corpus: count,
    EXACT distinct (the metric per-shard partials cannot give),
    min/max, and the HLL column all layout-invariant."""
    mono, shards = setup
    terms = ["def", "return"]
    m = mono.match_stats(terms, stat_col="lang", cardinality=True).collect()[0]
    s = shards.match_stats(terms, stat_col="lang",
                           cardinality=True).collect()[0]
    assert (s["n_matched"], s["n_values"], s["min_value"],
            s["max_value"]) == \
        (m["n_matched"], m["n_values"], m["min_value"], m["max_value"])
    assert s["n_matched"] > 0 and s["n_values"] > 1
    # HLL sketches merge over the same value stream; at this
    # cardinality (a handful of langs) the estimate is exact
    assert s["cardinality"] == m["cardinality"] == s["n_values"]
    # expression stats (Solr stats on a function query) too
    me = mono.match_stats(terms, stat_col="length(path) % 7").collect()[0]
    se = shards.match_stats(terms, stat_col="length(path) % 7").collect()[0]
    assert tuple(se) == tuple(me)


def test_sharded_stem_terms(setup):
    """Stem-class expansion merged across shards == monolithic (dfs
    summed; the stem is a pure function of the term)."""
    mono, shards = setup
    for algo in ("porter", "s"):
        got = shards.stem_terms("values", algo=algo)
        want = mono.stem_terms("values", algo=algo)
        assert got == want and got, (algo, got, want)


def test_sharded_ltr_equals_monolithic(spark, setup):
    """Distributed LTR rescoring with every candidate in the head:
    per-doc model scores must equal the monolithic rerank (global-idf
    orig + owning-shard matched/dl + global-stats cross-field BM25)."""
    from ftidx.ltr import LinearModel, Tree, TreesModel

    mono, shards = setup
    big = 10**6
    for model in (
        LinearModel({"orig": 1.0, "matched": 0.3, "dl": -0.01,
                     "bm25@code.ident.split": 0.5}),
        TreesModel([(1.0, Tree("matched", 2.0, left=Tree(value=0.1),
                               right=Tree("dl", 25.0,
                                          left=Tree(value=0.9),
                                          right=Tree(value=0.4))))]),
    ):
        mono_hits = mono.ltr_rerank(TERMS, model, k=big, rerank_docs=big)
        sh_hits = shards.ltr_rerank(TERMS, model, k=big, rerank_docs=big)
        assert len(mono_hits) == len(sh_hits) > 0
        mk = _keyed(spark, {str(mono.path): list(mono_hits)})
        sk = {}
        for path, want_si in ((str(shards.shards[0].path), 0),
                              (str(shards.shards[1].path), 1)):
            rows = [(d, s) for si, d, s in sh_hits if si == want_si]
            sk.update(_keyed(spark, {path: rows}))
        assert set(mk) == set(sk)
        for key, s in mk.items():
            assert sk[key] == pytest.approx(s, rel=1e-9, abs=1e-12), key

    # k cut + unknown feature guard
    assert len(shards.ltr_rerank(TERMS, LinearModel({"orig": 1.0}),
                                 k=3, rerank_docs=big)) == 3
    with pytest.raises(ValueError):
        shards.ltr_rerank(TERMS, LinearModel({"bogus": 1.0}), k=3)


def test_sharded_stem_topk_equals_monolithic(spark, setup):
    """Stemmed BM25 across shards: per-doc scores equal the monolithic
    stem_topk (global stem classes, global group df, global avgdl)."""
    mono, shards = setup
    big = 10**6
    mono_hits = mono.stem_topk(["values", "words"], k=big)
    sh_hits = shards.stem_topk(["values", "words"], k=big)
    assert len(mono_hits) == len(sh_hits) > 0
    mk = _keyed(spark, {str(mono.path): list(mono_hits)})
    sk = {}
    for path, want_si in ((str(shards.shards[0].path), 0),
                          (str(shards.shards[1].path), 1)):
        rows = [(d, s) for si, d, s in sh_hits if si == want_si]
        sk.update(_keyed(spark, {path: rows}))
    assert set(mk) == set(sk)
    for key, s in mk.items():
        assert sk[key] == pytest.approx(s, rel=1e-9), key
    assert shards.stem_topk([], k=5) == []


def test_sharded_frange_equals_monolithic(spark, setup):
    """Sharded {!frange} == monolithic on the same corpus, with an
    INDEX-dependent function (termfreq x global idf) so both the
    shard-local splice path and the cross-shard scalar path are
    exercised — shard-local docfreq would shift the idf factor and
    change fval."""
    mono, shards = setup
    func = "product(termfreq(code.content,'def'), idf(code.content,'def'))"
    m = mono.topk_frange(["def", "return"], func, k=50, l=0.5)
    s = shards.topk_frange(["def", "return"], func, k=50, l=0.5)

    def keyed_mono(rows):
        docs = {r["doc_id"]: (r["repo"], r["path"], r["commit"])
                for r in spark.read.parquet(f"{mono.path}/docs")
                .select("doc_id", "repo", "path", "commit").collect()}
        return {docs[r["doc_id"]]: (round(r["score"], 9),
                                    round(r["fval"], 9)) for r in rows}

    def keyed_sh(rows):
        maps = []
        for sh in shards.shards:
            maps.append({r["doc_id"]: (r["repo"], r["path"], r["commit"])
                         for r in spark.read.parquet(f"{sh.path}/docs")
                         .select("doc_id", "repo", "path",
                                 "commit").collect()})
        return {maps[r["shard"]][r["doc_id"]]: (round(r["score"], 9),
                                                round(r["fval"], 9))
                for r in rows}

    got_m = keyed_mono(m.collect())
    got_s = keyed_sh(s.collect())
    assert got_m and got_m == got_s
    # a metadata-only function + both bounds, exclusive lower
    f2 = "mod(doc_id, 7)"
    m2 = {r["fval"] for r in mono.topk_frange(
        ["def"], f2, k=100, l=1, u=5, incl_l=False).collect()}
    s2 = {r["fval"] for r in shards.topk_frange(
        ["def"], f2, k=100, l=1, u=5, incl_l=False).collect()}
    assert m2 == s2 and all(1 < v <= 5 for v in m2)
    with pytest.raises(ValueError, match="frange"):
        shards.topk_frange(["def"], f2, k=5)
