"""Persistent index: build → query parity with oracle, hot terms,
partition-layout determinism, resume-from-checkpoint, and pages kept
through streamed deltas and their merges."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from ftidx.index import build_index, open_index
from ftidx.oracle import OracleIndex
from ftidx.synth import synth_source

N_FILES = 400


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "main")
    src = synth_source(spark, N_FILES, partitions=5)
    summary = build_index(spark, src, out, n_buckets=8, hot_df_threshold=50)
    return out, summary


@pytest.fixture(scope="module")
def positioned(spark, tmp_path_factory):
    """A 150-file, 4-bucket index with positions: the phrase surfaces'."""
    out = str(tmp_path_factory.mktemp("pidx") / "main")
    build_index(spark, synth_source(spark, 150), out, n_buckets=4,
                hot_df_threshold=50, positions=True)
    return out


@pytest.fixture(scope="module")
def oracle(spark, built):
    out, _ = built
    docs = spark.read.parquet(f"{out}/docs")
    src = synth_source(spark, N_FILES, partitions=5)
    live = (
        src.filter((~F.col("deleted")) & F.col("content").isNotNull())
        .join(docs.select("repo", "path", "doc_id"), ["repo", "path"])
        .select("doc_id", "content", "lang", "repo", "path")
        .toPandas()
    )
    assert len(live) > 300
    return OracleIndex.from_pandas(live)


QUERIES = [
    (["def"], 10, "code.content"),
    (["def", "return", "value"], 12, "code.content"),
    (["alpha", "omega"], 10, "code.content"),
    (["rareterm00001"], 5, "code.content"),
    (["def", "rareterm00002"], 8, "code.content"),
    (["posting", "stream"], 10, "code.ident.split"),
    (["zzz_nothing"], 5, "code.content"),
]


@pytest.mark.parametrize("terms,k,field", QUERIES)
@pytest.mark.parametrize("kernel", ["exhaustive", "block_max"])
def test_topk_matches_oracle(spark, built, oracle, terms, k, field, kernel):
    idx = open_index(spark, built[0])
    got = idx.topk(terms, k=k, field=field, kernel=kernel)
    want = oracle.topk(terms, k, field=field)
    assert [d for d, _ in got] == [d for d, _ in want], f"{kernel} {terms}"
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_topk_distributed_matches(spark, built, oracle):
    idx = open_index(spark, built[0])
    for terms, k, field in QUERIES[:4]:
        got = [(r["doc_id"], r["score"]) for r in idx.topk_distributed(terms, k, field).collect()]
        want = oracle.topk(terms, k, field=field)
        assert [d for d, _ in got] == [d for d, _ in want], terms


def test_topk_routes_distributed_beyond_doc_budget(spark, built, oracle):
    """Fat-corpus routing (the 32M-probe finding): above
    _driver_score_max_docs, cold topk() scores in the executors via
    topk_distributed instead of collecting full postings to the
    driver — results must be IDENTICAL, the term cache must stay
    cold (nothing collected), and the queryResultCache must still
    serve repeats."""
    idx = open_index(spark, built[0])
    idx._driver_score_max_docs = 1  # force the routed path
    for terms, k, field in QUERIES[:4]:
        got = idx.topk(terms, k=k, field=field)
        want = oracle.topk(terms, k, field=field)
        assert [d for d, _ in got] == [d for d, _ in want], terms
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)
    assert idx._cache_misses == 0  # no driver postings collect happened
    # boolean surface routes too
    dist = [(int(r["doc_id"]), float(r["score"]))
            for r in idx.topk_distributed(["def"], k=5,
                                          mode="and").collect()]
    assert idx.topk(["def"], k=5, mode="and") == dist
    # repeat query: served from the result cache, no new Spark job
    misses0 = idx._result_misses
    idx.topk(*QUERIES[0][0:1], k=QUERIES[0][1], field=QUERIES[0][2])
    idx.topk(*QUERIES[0][0:1], k=QUERIES[0][1], field=QUERIES[0][2])
    assert idx._result_hits >= 1 and idx._result_misses <= misses0 + 1


def test_plan_surfaces_route_distributed_beyond_doc_budget(spark, built,
                                                           positioned):
    """Beyond the doc budget, topk_fields, topk_boost_query, the phrase
    surfaces and query strings (terms, phrases, proximity, a negated
    phrase, a wildcard) score in the executors like topk: the driver's
    pages, bit for bit, and no driver postings collect."""
    w = {"code.content": 1.0, "code.ident.split": 2.0}
    calls = {built[0]: [
        lambda h: h.topk_fields(["def", "value"], fields=w, k=8),
        lambda h: h.topk_fields(["def", "value"], fields=w, k=8, tie=0.3),
        lambda h: h.topk_boost_query(["def", "value"], {"alpha": 0.7}, k=8),
        lambda h: h.query_string("def value^2 return^0.5", k=8),
        lambda h: h.query_string("+def value -alpha", k=8, min_match=1),
    ], positioned: [
        lambda h: h.phrase_topk(["def", "value"], k=8),
        lambda h: h.near_topk(["def", "value"], window=3, k=8),
        lambda h: h.topk_phrase_boosted(["def", "value"], k=8),
        lambda h: h.topk_phrase_boosted(["beta", "data", "result"], k=8,
                                        slop=20),
        lambda h: h.query_string('"def value" return', k=8),
        lambda h: h.query_string('"def value"~3 return^2', k=8),
        lambda h: h.query_string('def -"def value"', k=8),
        lambda h: h.query_string("def val* return^0.5", k=8),
    ]}
    for path, surfaces in calls.items():
        idx = open_index(spark, path)
        idx._driver_score_max_docs = 1  # force the routed path
        ref = open_index(spark, path)
        for call in surfaces:
            got = call(idx)
            assert got and got == call(ref)
        assert idx._cache_misses == 0  # no driver postings collect happened


def test_plan_parity_driver_bucket_shards(spark, built, positioned, tmp_path):
    """Each plan of the grid runs on the driver (_run_plan over the term
    cache and the positions fetch) and per bucket
    (_plan_df(...).collect()): the same ids and bit-identical scores, on
    a base-only index and on base + streamed deltas + tombstones;
    FtShards([idx]) serves the same pages. The doc-set plans run on
    indexes with positions, streamed ones in delta_positions; synonym
    classes and id filters (the rerank, LTR and pinned-doc plans) on
    every index."""
    from ftidx.index import _drop_tombstones, class_plan, edismax_plan
    from ftidx.shards import FtShards
    from ftidx.streaming import index_microbatch
    from ftidx.wand import (ANY, MUST, MUST_NOT, NEAR, PHRASE, SHOULD, Clause,
                            DocSet, ScorePlan)

    f1, f2 = "code.content", "code.ident.split"
    terms = ["def", "value", "alpha"]
    qf = {f1: 1.0, f2: 2.0}
    fields = ScorePlan(tuple(Clause(f, t, w) for f, w in qf.items()
                             for t in terms))
    plans = {
        "or": ScorePlan.bag(terms, f1),
        "and": ScorePlan.bag(["def", "value"], f1, MUST),
        "mm2": ScorePlan.bag(terms, f1, mm=2),
        "exclude": ScorePlan.bag(["def", "value"], f1, exclude=["alpha"]),
        # the plan of the query string "def^2 value return^0.5"
        "boosted": ScorePlan((Clause(f1, "def", 2.0), Clause(f1, "value"),
                              Clause(f1, "return", 0.5))),
        "fields": fields,
        **{f"tie{tie}": ScorePlan(tuple(c._replace(group="") for c in fields.clauses),
                                  tie=tie) for tie in (0.0, 0.3, 1.0)},
        "bq": ScorePlan(ScorePlan.bag(["def", "value"], f1).clauses
                        + (Clause(f1, "alpha", 0.7),)),
        "edismax": edismax_plan(terms, qf, 0.3, 2, {"return": 0.7}),
        "classes": class_plan({"def": ["def", "return"], "zzz": ["qqq"],
                               "value": ["value", "values", "data"]}, f1),
        "class_mixed": ScorePlan(class_plan({"def": ["def", "return"]}, f1).clauses
                                 + (Clause(f1, "value"), Clause(f2, "value", 2.0))),
    }
    dv = ("def", "value")
    bdr = ("beta", "data", "result")
    set_plans = {
        "phrase": ScorePlan.bag(dv, f1)._replace(sets=(DocSet(f1, dv),)),
        "near": ScorePlan.bag(dv, f1)._replace(sets=(DocSet(f1, dv, NEAR, 3),)),
        "not_phrase": ScorePlan.bag(["def", "return"], f1)._replace(
            sets=(DocSet(f1, dv, occur=MUST_NOT),)),
        # topk_phrase_boosted: ps=0, and ps=20 over three terms
        "pf0": ScorePlan.bag(dv, f1)._replace(
            sets=(DocSet(f1, dv, PHRASE, 0, 2.0, SHOULD),)),
        "pf20": ScorePlan.bag(bdr, f1)._replace(
            sets=(DocSet(f1, bdr, NEAR, 22, 2.0, SHOULD),)),
        # the query string 'def^2 d* [a TO c]^0.7 return^0.5' with mm=2
        "multiterm": ScorePlan(
            (Clause(f1, "def", 2.0), Clause(f1, "return", 0.5)), mm=2,
            sets=(DocSet(f1, ("data", "def", "delta"), ANY, 0, 1.0, SHOULD),
                  DocSet(f1, ("alpha", "beta", "call"), ANY, 0, 0.7, SHOULD))),
    }

    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 120), out, n_buckets=4,
                positions=True)
    index_microbatch(synth_source(spark, 200).filter(F.col("path") > "m"), 0,
                     out, n_buckets=4)
    streamed = open_index(spark, out)
    streamed.delete([d for d, _ in streamed.topk(["def"], k=3)]
                    + [d for d, _ in streamed.topk(["value"], k=2)])
    assert streamed._delta_postings is not None and streamed._tombstones
    assert (tmp_path / "idx" / "delta_positions").exists()
    grids = ((open_index(spark, built[0]), plans),
             (open_index(spark, positioned), set_plans),
             (streamed, {**plans, **set_plans}))
    for idx, grid in grids:
        some = tuple(idx._run_plan(ScorePlan.bag(["def", "alpha"], f1))[0][::3][:25]
                     .tolist())
        filtered = {
            "ids_or": ScorePlan.bag(terms, f1)._replace(ids=some + (5,)),
            "ids_classes": plans["classes"]._replace(ids=some),
            "ids_matched": ScorePlan((), sets=tuple(
                DocSet(f1, (t,), ANY, 0, 1.0, SHOULD) for t in terms), ids=some),
            "ids_fields": fields._replace(ids=some),
        }
        for name, plan in {**grid, **filtered}.items():
            ids, scores, _ = idx._run_plan(plan)
            ids, scores = _drop_tombstones(ids, scores, idx._tombstones)
            rows = sorted((r["doc_id"], r["score"])
                          for r in idx._plan_df(plan).collect())
            assert ids.size and [d for d, _ in rows] == ids.tolist(), name
            assert np.array_equal([s for _, s in rows], scores), name
        shards = FtShards([idx])
        for t in (["def", "value"], ["alpha", "zzz_nothing"]):
            assert [(d, s) for _, d, s in shards.topk(t, k=10)] == idx.topk(t, k=10)
        kw = dict(qf=qf, tie=0.3, mm=2, bq={"return": 0.7}, k=10)
        assert [tuple(r)[1:] for r in shards.edismax(terms, **kw).collect()] == \
            [tuple(r) for r in idx.edismax(terms, **kw).collect()]


def test_term_order_does_not_depend_on_the_cache(spark, positioned):
    """explain's terms and total, and the pf bonus's idf sum, run in
    term order: a handle whose cache already holds some of the terms
    answers exactly as a fresh one."""
    terms = ["beta", "data", "result"]

    def warmed():
        h = open_index(spark, positioned)
        h.topk(["data"])
        h.topk(["result"])
        return h

    page = open_index(spark, positioned).topk_phrase_boosted(
        terms, k=20, pf_weight=2, slop=20)
    assert page and warmed().topk_phrase_boosted(
        terms, k=20, pf_weight=2, slop=20) == page
    for doc, _ in page[:3]:
        ex = open_index(spark, positioned).explain(terms, doc)
        names = [t["term"] for t in ex["terms"]]
        assert names == sorted(names)
        assert warmed().explain(terms, doc) == ex


# Spark jobs of the phrase and query-string surfaces on the positioned
# fixture, (cold, warm) on a fresh handle: the positions fetch runs on
# every call, the postings fetch only cold, and a wildcard's expansion
# adds its vocabulary scan.
PHRASE_SURFACE_MAX_JOBS = {"phrase_topk": (2, 1), "near_topk": (2, 1),
                           "topk_phrase_boosted": (2, 1),
                           "qs_phrase": (2, 1), "qs_wildcard": (3, 2),
                           "qs_terms": (1, 0)}


def test_phrase_surfaces_job_count(spark, spark_jobs, positioned):
    calls = {
        "phrase_topk": lambda h: h.phrase_topk(["def", "value"]),
        "near_topk": lambda h: h.near_topk(["def", "value"], window=3),
        "topk_phrase_boosted": lambda h: h.topk_phrase_boosted(
            ["def", "value"], slop=2),
        "qs_phrase": lambda h: h.query_string('"def value" return'),
        "qs_wildcard": lambda h: h.query_string("def val*"),
        "qs_terms": lambda h: h.query_string("def value"),
    }
    for name, call in calls.items():
        idx = open_index(spark, positioned)
        cold, cold_jobs = spark_jobs(lambda: call(idx))
        warm, warm_jobs = spark_jobs(lambda: call(idx))
        assert cold and cold == warm, name
        cap_cold, cap_warm = PHRASE_SURFACE_MAX_JOBS[name]
        assert len(cold_jobs) <= cap_cold and len(warm_jobs) <= cap_warm, \
            (name, len(cold_jobs), len(warm_jobs))


def test_hot_terms_were_salted(spark, built):
    """The ledger must show skew handled: hot terms exist and the
    postings table still has ONE row per (term, field, bucket)."""
    out, _ = built
    postings = spark.read.parquet(f"{out}/postings")
    dup = (
        postings.groupBy("term", "field", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dup == 0
    hot_df = postings.filter(
        (F.col("term") == "def") & (F.col("field") == "code.content")
    ).agg(F.sum("df")).collect()[0][0]
    assert hot_df > 50  # it was indeed above the salting threshold


def test_build_layout_determinism(spark, tmp_path, built):
    """Same corpus, different input partitioning + bucket group size →
    byte-identical postings (merge determinism, SURVEY §5)."""
    out2 = str(tmp_path / "idx2")
    src = synth_source(spark, N_FILES, partitions=13)
    build_index(spark, src, out2, n_buckets=8, hot_df_threshold=50,
                bucket_group_size=3)

    def dump(path):
        rows = (
            spark.read.parquet(f"{path}/postings")
            .select("term", "field", "bucket", "df", "cf", "doc_ids", "tfs", "dls")
            .collect()
        )
        return {
            (r["term"], r["field"], r["bucket"]):
                (r["df"], r["cf"], bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["dls"]))
            for r in rows
        }

    assert dump(built[0]) == dump(out2)


def test_resume_skips_done_buckets(spark, tmp_path, built):
    """Kill half the build (drop ledger rows + partitions), rerun with
    resume → only missing buckets rebuilt, results identical."""
    out, _ = built
    out2 = str(tmp_path / "idx_resume")
    shutil.copytree(out, out2)
    # simulate a crash: buckets 4..7 never completed
    led = spark.read.parquet(f"{out2}/ledger").filter(F.col("bucket") < 4).collect()
    shutil.rmtree(f"{out2}/ledger")
    for b in range(4, 8):
        shutil.rmtree(f"{out2}/postings/bucket={b}", ignore_errors=True)
        shutil.rmtree(f"{out2}/doclen/bucket={b}", ignore_errors=True)
    spark.createDataFrame(led, schema=spark.read.parquet(f"{out}/ledger").schema) \
        .write.parquet(f"{out2}/ledger")

    src = synth_source(spark, N_FILES, partitions=5)
    summary = build_index(spark, src, out2, n_buckets=8, hot_df_threshold=50)
    assert sorted(summary["built"]) == [4, 5, 6, 7]
    assert sorted(summary["skipped"]) == [0, 1, 2, 3]

    a = open_index(spark, out)
    b = open_index(spark, out2)
    assert a.topk(["def", "value"], 10) == b.topk(["def", "value"], 10)


def test_delete_tombstones(spark, built, oracle):
    idx = open_index(spark, built[0])
    top = idx.topk(["def"], 3)
    victim = top[0][0]
    idx.delete([victim])
    after = idx.topk(["def"], 3)
    assert victim not in [d for d, _ in after]
    # distributed path honors tombstones too
    dist = [r["doc_id"] for r in idx.topk_distributed(["def"], 3).collect()]
    assert victim not in dist
    # fresh handle reads the tombstone table from disk
    idx2 = open_index(spark, built[0])
    assert victim not in [d for d, _ in idx2.topk(["def"], 3)]


def test_tombstone_snapshot_immutable(spark, built):
    """A reader's tombstone snapshot never changes under it: delete()
    swaps in a new set instead of mutating the one being iterated."""
    idx = open_index(spark, built[0])
    snap = idx._tombstones
    before = set(snap)
    absent = -1  # no doc carries a negative id; pages are unaffected
    idx.delete([absent])
    assert set(snap) == before and absent not in snap
    assert absent in idx._tombstones


PARITY_CASES = {
    "or": {},
    "and": {"mode": "and"},
    "mm2": {"min_match": 2},
    "exclude": {"exclude": ["alpha"]},
}


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_scoring_parity_with_tombstoned_top1(spark, built, oracle, case):
    """Every scorer — both driver kernels, the per-bucket executor
    path, a one-shard FtShards and the oracle — gives the same page,
    in order, with the current top-1 doc tombstoned."""
    from ftidx.shards import FtShards

    opts = PARITY_CASES[case]
    terms, k = ["def", "return", "value"], 8
    idx = open_index(spark, built[0])
    victim = idx.topk(terms, k=1, use_cache=False, **opts)[0][0]
    # handle-local tombstone: the shared index dir stays untouched
    idx._tombstones = idx._tombstones | {victim}

    post = oracle.postings["code.content"]
    floor = (len(terms) if opts.get("mode") == "and"
             else opts.get("min_match", 1))
    banned = set(idx._tombstones).union(
        *(post.get(t, {}) for t in opts.get("exclude", [])))
    want = sorted(
        ((d, s) for d, s in oracle.bm25_scores(terms).items()
         if d not in banned and sum(d in post.get(t, {}) for t in terms) >= floor),
        key=lambda kv: (-kv[1], kv[0]))[:k]
    assert len(want) == k

    pages = {kern: idx.topk(terms, k=k, kernel=kern, **opts)
             for kern in ("block_max", "exhaustive")}
    pages["distributed"] = [(r["doc_id"], r["score"]) for r in
                            idx.topk_distributed(terms, k=k, **opts).collect()]
    if "mode" in opts or not opts:
        pages["shards"] = [(d, s) for _, d, s in FtShards([idx]).topk(
            terms, k=k, require_all="mode" in opts)]
    for name, got in pages.items():
        assert [d for d, _ in got] == [d for d, _ in want], name
        assert all(abs(g - w) <= 1e-9 for (_, g), (_, w) in zip(got, want)), name


def test_pruned_topk_with_pending_tombstones(spark, built, oracle, monkeypatch):
    """FtIndex.topk asks the pruned kernel for k + pending tombstones:
    with the top k of a rare+fat query tombstoned, the probe plan and
    the scatter-add plan both still fill the page, equal to the
    exhaustive kernel and to the oracle."""
    from ftidx import wand

    terms, k = ["def", "rareterm00002"], 5
    idx = open_index(spark, built[0])
    victims = {d for d, _ in idx.topk(terms, k=k, use_cache=False)}
    idx._tombstones = idx._tombstones | victims  # handle-local
    want = sorted(((d, s) for d, s in oracle.bm25_scores(terms).items()
                   if d not in idx._tombstones),
                  key=lambda kv: (-kv[1], kv[0]))[:k]
    assert len(want) == k
    taken = []
    nonessential = wand._nonessential

    def spy(*args):
        out = nonessential(*args)
        taken.append("probe" if out else "scatter")
        return out

    monkeypatch.setattr(wand, "_nonessential", spy)
    for probe_cost in (0, 1e18):  # free probes, then unaffordable ones
        monkeypatch.setattr(wand, "PROBE_COST", probe_cost)
        monkeypatch.setattr(wand, "ROW_PROBE_COST", 0)
        got = idx.topk(terms, k=k, use_cache=False)
        assert got == idx.topk(terms, k=k, kernel="exhaustive", use_cache=False)
        assert [d for d, _ in got] == [d for d, _ in want]
        assert all(abs(g - w) <= 1e-9 for (_, g), (_, w) in zip(got, want))
    assert taken == ["probe", "scatter"]


def test_executor_page_equals_driver_page(spark, built):
    """The per-bucket executor top-k (``_scored_df(k=...)`` under
    topk_distributed) returns the driver kernel's page, scores equal."""
    idx = open_index(spark, built[0])
    for terms, k in ((["def", "rareterm00002"], 8), (["def", "return"], 12),
                     (["def", "return", "value"], 12)):
        dist = [(int(r["doc_id"]), float(r["score"]))
                for r in idx.topk_distributed(terms, k).collect()]
        assert dist == idx.topk(terms, k=k, use_cache=False), terms


def test_ledger_metrics(spark, built):
    out, summary = built
    led = spark.read.parquet(f"{out}/ledger")
    rows = led.collect()
    assert {r["bucket"] for r in rows} == set(range(8))
    assert all(r["status"] == "done" for r in rows)
    assert sum(r["postings_emitted"] for r in rows) > 0
    assert sum(r["bytes_compressed"] for r in rows) > 0
    assert all(r["skew_ratio"] >= 1.0 for r in rows)
    assert all(r["tracking_id"] for r in rows)


def test_metrics_ledger_read_outside_cache_lock(spark, built):
    """metrics() reads the ledger (a Spark job) without holding
    _cache_lock, so concurrent queries' cache bookkeeping never waits
    behind it."""
    import threading

    idx = open_index(spark, built[0])
    acquired = []

    def try_lock():
        if idx._cache_lock.acquire(timeout=2):
            idx._cache_lock.release()
            acquired.append(True)

    class ProbeSession:
        @property
        def read(self):  # metrics() touches spark only for the ledger
            t = threading.Thread(target=try_lock)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
            return spark.read

    idx.spark = ProbeSession()
    try:
        m = idx.metrics()
    finally:
        idx.spark = spark
    assert acquired == [True]
    assert m["last_build"]["buckets_done"] == 8


def test_failed_bucket_reason_persisted(spark, tmp_path):
    """S27 queueFail parity (RawRepoQueueBean.java:28-34): when a
    bucket group's job dies, the ledger records status=failed WITH the
    error string; the resumed (fixed) run retries those buckets, and
    the reason still surfaces in FtIndex.metrics afterwards — the
    append-only ledger is the operator's forensic record."""
    out = str(tmp_path / "idx_poison")
    src = synth_source(spark, 120, partitions=3)

    def poison(batches):
        for pdf in batches:
            raise RuntimeError("poisoned partition: disk XYZ stanza")
            yield pdf  # pragma: no cover

    bad = src.mapInPandas(poison, schema=src.schema)
    with pytest.raises(Exception):
        build_index(spark, bad, out, n_buckets=4, build_id="badrun")

    led = spark.read.option("mergeSchema", "true").parquet(f"{out}/ledger")
    failed = led.filter(F.col("status") == "failed").collect()
    assert {r["bucket"] for r in failed} == set(range(4))
    assert all(r["build_id"] == "badrun" for r in failed)
    assert all(r["error"] and "poisoned partition: disk XYZ" in r["error"]
               for r in failed), failed[0]["error"]

    # fixed source, same index dir: failed buckets are NOT in the done
    # set, so resume rebuilds all of them and the build completes
    summary = build_index(spark, src, out, n_buckets=4, build_id="goodrun")
    assert sorted(summary["built"]) == [0, 1, 2, 3]
    assert summary["skipped"] == []

    idx = open_index(spark, out)
    assert idx.topk(["def"], 3)  # index actually serves
    m = idx.metrics()
    assert m["failures"]["count"] == 4
    assert m["failures"]["unresolved_buckets"] == []
    rec = m["failures"]["rows"][0]
    assert rec["build_id"] == "badrun" and "disk XYZ" in rec["error"]
    assert m["last_build"]["buckets_done"] == 4


def test_streamed_merges_keep_pages(spark, tmp_path):
    """One segment writer for build, stream and merge: a base plus three
    streamed batches (one redelivers ids, one carries a tombstone) with
    positions on. topk, phrase_topk and the exhaustive kernel serve the
    same pages before and after merge_delta_tier, every page equals the
    oracle also after compact folds the batches and the tombstone, and
    postings/ ends with one row per (field, term, bucket)."""
    from ftidx.maintenance import compact, merge_delta_tier
    from ftidx.streaming import index_microbatch, prepare_docs_hashid
    from ftidx.tokenize import tokenize_doc

    out = str(tmp_path / "idx")
    base_src = synth_source(spark, 120)
    build_index(spark, base_src, out, n_buckets=4, positions=True)
    extra = synth_source(spark, 200).join(
        base_src.select("repo", "path"), ["repo", "path"], "left_anti").cache()
    b0 = extra.filter(F.xxhash64("path") % 2 == 0)
    victim_row = (b0.filter(~F.col("deleted") & F.col("content").isNotNull())
                  .orderBy("path").limit(1))
    index_microbatch(b0, 0, out, n_buckets=4)
    index_microbatch(extra.filter(F.xxhash64("path") % 2 != 0)
                     .unionByName(b0.limit(5)), 1, out, n_buckets=4)
    index_microbatch(victim_row.withColumn("deleted", F.lit(True)), 2, out,
                     n_buckets=4)

    cols = ["doc_id", "content", "lang", "repo", "path"]
    base = spark.read.parquet(f"{out}/docs").select("repo", "path", "doc_id")
    live = (base_src.join(base, ["repo", "path"])
            .unionByName(prepare_docs_hashid(extra, 4).select(*base_src.columns, "doc_id"))
            .filter(~F.col("deleted") & F.col("content").isNotNull())
            .select(cols).toPandas())
    oracle = OracleIndex.from_pandas(live)
    victim = prepare_docs_hashid(victim_row, 4).first()["doc_id"]
    content = {int(r.doc_id): tokenize_doc(r.content, r.lang, r.repo, r.path)
               .get("code.content", []) for r in live.itertuples()}

    def want(terms, k, phrase=False):
        scores = oracle.bm25_scores(terms)
        n = len(terms)
        hits = [(d, s) for d, s in scores.items() if d != victim and (
            not phrase or any(content[d][i:i + n] == terms
                              for i in range(len(content[d]))))]
        return sorted(hits, key=lambda kv: (-kv[1], kv[0]))[:k]

    def pages():
        idx = open_index(spark, out)
        got = {"topk": idx.topk(["def", "alpha"], k=10),
               "exhaustive": idx.topk(["def", "alpha"], k=10, kernel="exhaustive"),
               "phrase": idx.phrase_topk(["plain", "words"], k=50)}
        for name, page in got.items():
            expect = want(["plain", "words"], 50, True) if name == "phrase" \
                else want(["def", "alpha"], 10)
            assert [d for d, _ in page] == [d for d, _ in expect], name
            for (_, gs), (_, ws) in zip(page, expect):
                assert gs == pytest.approx(ws, rel=1e-9)
        return got

    before = pages()
    assert any(d >= (1 << 40) for d, _ in before["phrase"])  # streamed hit
    merge_delta_tier(spark, out, max_batches=1)
    assert pages() == before
    compact(spark, out)
    # the folded tombstone takes the victim out of the collection stats
    oracle.delete(victim)
    pages()
    dup = (spark.read.parquet(f"{out}/postings")
           .groupBy("field", "term", "bucket").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0


def test_bucket_merge_matches_per_group_encode():
    """The per-bucket merge kernel equals the per-group reference —
    decode every segment, keep each doc once unless it is in the drop
    set, encode_postings — over term rows of two fields and two
    buckets."""
    import pandas as pd

    from ftidx.codec import encode_postings
    from ftidx.index import _POSTINGS_COLS, _bucket_local_merge

    rng = np.random.default_rng(3)
    rows, groups = [], {}
    for b in range(2):
        for field in ("code.content", "code.path"):
            for term in ("alpha", "beta"):
                ids = rng.choice(1 << 40, 300, replace=False).astype(np.uint64)
                tfs, dls = (rng.integers(1, 500, 300).astype(np.uint64) for _ in range(2))
                # later segments repeat docs of earlier ones (a redelivery)
                for sl in (np.r_[0:100], np.r_[100:220, 0:10], np.r_[220:300, 5:15]):
                    rows.append({"term": term, "field": field, "bucket": b,
                                 **encode_postings(ids[sl], tfs[sl], dls[sl])})
                groups[(term, field, b)] = (ids, tfs, dls)
    pdf = pd.DataFrame(rows)[_POSTINGS_COLS].sample(frac=1, random_state=1)
    every = np.concatenate([ids for ids, _, _ in groups.values()])
    for drop in (None, every[every % 3 == 0].astype(np.int64)):
        out = pd.concat(list(_bucket_local_merge([pdf.iloc[:5], pdf.iloc[5:]],
                                                 drop=drop)))
        got = {(r["term"], r["field"], r["bucket"]): r for r in out.to_dict("records")}
        assert got.keys() == groups.keys()
        for key, (ids, tfs, dls) in groups.items():
            keep = np.ones(ids.size, bool) if drop is None else ids % 3 != 0
            w = encode_postings(ids[keep], tfs[keep], dls[keep])
            assert {c: got[key][c] for c in ("df", "cf", "doc_ids", "tfs", "dls")} == \
                {c: w[c] for c in ("df", "cf", "doc_ids", "tfs", "dls")}
            for c in ("block_max_tf", "block_min_dl", "block_last_docid"):
                assert list(got[key][c]) == list(w[c])
    assert list(_bucket_local_merge([pdf], drop=every.astype(np.int64))) == []


def test_boolean_and_exclude(spark, tmp_path):
    """Conjunctive + exclusion retrieval: compressed path == flat
    DataFrame path (rank-identical, scores to 1e-9)."""
    from ftidx.build import build_flat
    from ftidx.query import bm25_topk_flat

    src = synth_source(spark, 200)
    out = str(tmp_path / "idx")
    build_index(spark, src, out, n_buckets=4, hot_df_threshold=50)
    idx = open_index(spark, out)
    flat = build_flat(src, n_buckets=4)
    for name in ("tf", "doclen", "fieldstats"):
        flat[name] = flat[name].cache()

    terms = ["def", "alpha", "sigma"]
    got_and = idx.topk(terms, k=15, mode="and")
    exp_and = [(r["doc_id"], r["score"]) for r in bm25_topk_flat(
        flat["tf"], flat["doclen"], flat["fieldstats"], terms, k=15,
        require_all=True).collect()]
    assert [d for d, _ in got_and] == [d for d, _ in exp_and]
    assert got_and and all(
        abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got_and, exp_and))
    # AND is a strict subset of OR results
    or_docs = {d for d, _ in idx.topk(terms, k=10**6, kernel="exhaustive")}
    assert {d for d, _ in got_and} <= or_docs

    got_ex = idx.topk(["def"], k=15, exclude=["alpha"])
    exp_ex = [(r["doc_id"], r["score"]) for r in bm25_topk_flat(
        flat["tf"], flat["doclen"], flat["fieldstats"], ["def"], k=15,
        exclude=["alpha"]).collect()]
    assert [d for d, _ in got_ex] == [d for d, _ in exp_ex]
    alpha_docs = {d for d, _ in idx.topk(["alpha"], k=10**6, kernel="exhaustive")}
    assert got_ex and not ({d for d, _ in got_ex} & alpha_docs)

    # a required term that matches nothing -> empty
    assert idx.topk(["def", "zzzznope"], mode="and") == []


def test_topk_distributed_boolean(spark, tmp_path):
    """Distributed boolean == driver-side boolean (per-bucket
    conjunction is globally valid: one bucket owns all a doc's rows)."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    terms = ["def", "alpha", "sigma"]
    got = [(r["doc_id"], r["score"]) for r in
           idx.topk_distributed(terms, k=12, mode="and").collect()]
    expect = idx.topk(terms, k=12, mode="and")
    assert [d for d, _ in got] == [d for d, _ in expect]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, expect))

    got_x = [(r["doc_id"], r["score"]) for r in
             idx.topk_distributed(["def"], k=12, exclude=["alpha"]).collect()]
    expect_x = idx.topk(["def"], k=12, exclude=["alpha"])
    assert [d for d, _ in got_x] == [d for d, _ in expect_x]

    assert idx.topk_distributed(["def", "zzzznope"], k=5, mode="and").count() == 0


def test_term_predicate_pushdown(spark, tmp_path):
    """The serving fetch's (field, term) predicate must reach the
    parquet scan (PushedFilters), and the scan must prune to the query
    columns — regression guard for the plan shape the engine's
    low-latency path depends on."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 100), out, n_buckets=2,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    plan = (
        idx._postings.filter(
            (F.col("field") == "code.content") & F.col("term").isin(["def", "alpha"])
        )
        .select("term", "df", "doc_ids")
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    )
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "field" in pushed and "term" in pushed, pushed
    # column pruning: content blobs not in ReadSchema
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "tfs" not in read and "dls" not in read, read


def test_edismax_plan_shape(spark, built):
    """The composed scorer's plan: global cut is TakeOrderedAndProject;
    the only single-partition exchanges feed bounded frames (the final
    limit), never a Sort/Window over corpus-proportional rows; the
    postings term predicate reaches the scan."""
    idx = open_index(spark, built[0])
    df = idx.edismax(["def", "value"],
                     qf={"code.content": 1.0, "code.ident.split": 2.0},
                     tie=0.3, mm=2, bq={"alpha": 0.7},
                     bf="0.01 * length(path)", k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            child = lines[i + 1]
            assert ("HashAggregate(keys=[], functions=[partial_" in child
                    or "TakeOrderedAndProject" in child
                    or "LocalLimit" in child), (line, child)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    pushed = [ln for ln in formatted.splitlines() if "PushedFilters" in ln]
    assert any("term" in ln for ln in pushed), pushed


def test_facet_counts(spark, tmp_path):
    """Facets over matching docs == brute-force recount from the docs
    table; tombstoned docs drop out."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    got = {r["value"]: r["n_docs"] for r in
           idx.facet_counts(["def", "alpha"], facet="lang").collect()}

    matched = {d for d, _ in idx.topk(["def", "alpha"], k=10**6,
                                      kernel="exhaustive")}
    docs = spark.read.parquet(f"{out}/docs").collect()
    expect: dict[str, int] = {}
    for r in docs:
        if r["doc_id"] in matched:
            expect[r["lang"]] = expect.get(r["lang"], 0) + 1
    assert got == expect and got

    victim = next(iter(matched))
    vlang = next(r["lang"] for r in docs if r["doc_id"] == victim)
    idx.delete([victim])
    got2 = {r["value"]: r["n_docs"] for r in
            idx.facet_counts(["def", "alpha"], facet="lang").collect()}
    assert got2[vlang] == expect[vlang] - 1


def test_topk_fields_weighted(spark, tmp_path):
    """Multi-field weighted BM25 == weighted sum of per-field scores."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    terms = ["def", "alpha"]
    weights = {"code.content": 1.0, "code.ident.split": 2.5}
    got = idx.topk_fields(terms, weights, k=12)

    acc: dict[int, float] = {}
    for field, w in weights.items():
        for d, s in idx.topk(terms, k=10**6, field=field, kernel="exhaustive"):
            acc[d] = acc.get(d, 0.0) + w * s
    expect = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:12]
    assert [d for d, _ in got] == [d for d, _ in expect]
    assert all(abs(a - b) < 1e-9 for (_, a), (_, b) in zip(got, expect))
    assert got


def test_fuzzy_terms(spark, tmp_path):
    """Fuzzy expansion finds 1-edit vocabulary neighbors and composes
    with topk to answer misspelled queries."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    got = idx.fuzzy_terms("deff")  # misspelling of 'def'
    assert got and got[0][0] == "def" and got[0][2] == 1
    assert all(d <= 1 for _, _, d in got)
    # exact term -> itself at distance 0 first
    exact = idx.fuzzy_terms("def")
    assert exact[0] == ("def", exact[0][1], 0)
    # compose: expanded query returns hits
    expanded = [t for t, _, _ in got[:3]]
    assert idx.topk(expanded, k=5)
    assert idx.fuzzy_terms("zzzzzzzzzz") == []


def test_topk_where_and_match_stats(spark, tmp_path):
    """Predicate-filtered top-k: filter applies before the cut; stats
    aggregate over the match set."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    got = [(r["doc_id"], r["score"]) for r in
           idx.topk_where(["def"], "lang = 'python'", k=8).collect()]

    # brute force: all scores, keep python docs, top 8
    all_hits = dict(idx.topk(["def"], k=10**6, kernel="exhaustive"))
    py_ids = {r["doc_id"] for r in
              spark.read.parquet(f"{out}/docs")
              .filter("lang = 'python'").collect()}
    expect = sorted(((d, s) for d, s in all_hits.items() if d in py_ids),
                    key=lambda kv: (-kv[1], kv[0]))[:8]
    assert [d for d, _ in got] == [d for d, _ in expect]
    assert got and all(d in py_ids for d, _ in got)
    # the predicate genuinely removed candidates from the match set
    assert any(d not in py_ids for d in all_hits)

    stats = idx.match_stats(["def"], stat_col="lang").collect()[0]
    assert stats["n_matched"] == len(all_hits)
    assert stats["n_values"] >= 2


def _resident_bytes(row: dict) -> int:
    """What a cached row holds once scored: the dict, its blobs, the
    memo tuples and the memoised arrays (ids are shared by both memos)."""
    import sys

    arrays = [*row["_dec"], row["_bm25"][2]]
    return (sys.getsizeof(row) + sys.getsizeof(row["_dec"])
            + sys.getsizeof(row["_bm25"]) + sys.getsizeof(row["_bm25"][0])
            + sum(sys.getsizeof(row[c]) for c in ("term", "doc_ids", "tfs", "dls"))
            + sum(a.nbytes + sys.getsizeof(a[:0]) for a in arrays))


def test_term_cache_byte_eviction(spark, tmp_path):
    """Byte-aware LRU: with a tiny byte budget the cache evicts rather
    than grow, results stay correct, and accounting never goes
    negative."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    baseline = {q: idx.topk(list(q), k=5) for q in
                (("def",), ("alpha",), ("sigma", "def"), ("value",))}

    idx2 = open_index(spark, out)
    idx2._term_cache_max_bytes = 8 * 1024  # a couple of entries at most
    for _ in range(3):
        for q, expect in baseline.items():
            assert idx2.topk(list(q), k=5) == expect
    assert idx2._cache_bytes >= 0
    assert idx2._cache_bytes <= 8 * 1024 or len(idx2._term_cache) <= 1
    assert len(idx2._term_cache) < 6

    # a budget every entry fits under but the whole mix does not: the
    # cache evicts, its byte count stays exact and within budget, and
    # each entry's cost covers what the kernels memoised on its rows
    from ftidx.index import _entry_cost

    hot = ["def", "return", "value", "data", "result"]
    pages = {t: idx.topk([t], k=5) for t in hot}
    biggest = max(_entry_cost(idx._term_cache[("code.content", t)]) for t in hot)
    idx3 = open_index(spark, out)
    idx3._term_cache_max_bytes = 4 * biggest
    for _ in range(2):
        for t in hot:
            assert idx3.topk([t], k=5, use_cache=False) == pages[t]
    assert idx3._cache_misses > len(hot)  # evicted, then fetched again
    assert idx3._cache_bytes == sum(
        _entry_cost(v) for v in idx3._term_cache.values())
    assert idx3._cache_bytes <= idx3._term_cache_max_bytes
    for rows in idx3._term_cache.values():
        assert _entry_cost(rows) >= sum(_resident_bytes(r) for r in rows)


def test_term_vector_and_mlt(spark, tmp_path):
    """Termvectors match the flat tf frame; MLT ranks docs similar to
    the source without returning the source."""
    from ftidx.build import build_flat

    src = synth_source(spark, 200)
    out = str(tmp_path / "idx")
    build_index(spark, src, out, n_buckets=4, hot_df_threshold=50)
    idx = open_index(spark, out)
    doc = idx.topk(["def"], k=1)[0][0]

    tv = dict(idx.doc_term_vector(doc, top_m=1000))
    flat = build_flat(src, n_buckets=4)
    expect = {
        r["term"]: r["tf"]
        for r in flat["tf"].filter(
            (F.col("doc_id") == doc) & (F.col("field") == "code.content")
        ).collect()
    }
    assert tv == expect and tv

    mlt = idx.more_like_this(doc, k=5)
    assert mlt and doc not in [d for d, _ in mlt]
    scores = [s for _, s in mlt]
    assert scores == sorted(scores, reverse=True)


def test_topk_grouped_collapse(spark, built):
    """Field collapse: best doc per group, groups ordered by best
    score; group_limit widens within-group depth."""
    idx = open_index(spark, built[0])
    got = idx.topk_grouped(["def"], group_col="lang", k_groups=10,
                           group_limit=1).collect()
    all_hits = dict(idx.topk(["def"], k=10**6, kernel="exhaustive"))
    meta = {r["doc_id"]: r["lang"] for r in
            spark.read.parquet(f"{built[0]}/docs").collect()}
    # brute force: best (score desc, id asc) per lang
    best = {}
    for d, s in all_hits.items():
        g = meta[d]
        if g not in best or (-s, d) < (-best[g][1], best[g][0]):
            best[g] = (d, s)
    expect = sorted(((g, d, s) for g, (d, s) in best.items()),
                    key=lambda t: (-t[2], t[0]))
    assert [(r["group_value"], r["doc_id"]) for r in got] == \
        [(g, d) for g, d, _ in expect[:10]]
    assert all(r["group_rank"] == 1 for r in got)

    # group_limit=2: second-best of the top group is present and ranked 2
    got2 = idx.topk_grouped(["def"], group_col="lang", k_groups=3,
                            group_limit=2).collect()
    top_group = expect[0][0]
    in_top = [r for r in got2 if r["group_value"] == top_group]
    assert [r["group_rank"] for r in in_top] == [1, 2]
    two_best = sorted(((d, s) for d, s in all_hits.items()
                       if meta[d] == top_group),
                      key=lambda kv: (-kv[1], kv[0]))[:2]
    assert [r["doc_id"] for r in in_top] == [d for d, _ in two_best]


def test_expand_topk(spark, built):
    """Collapse + expand (Solr ExpandComponent): the hit page is the
    top-k group representatives ranked globally; the expand section
    carries the next best members of exactly the page's groups."""
    idx = open_index(spark, built[0])
    got = idx.expand_topk(["def"], group_col="lang", k=5,
                          expand_rows=2).collect()
    all_hits = dict(idx.topk(["def"], k=10**6, kernel="exhaustive"))
    meta = {r["doc_id"]: r["lang"] for r in
            spark.read.parquet(f"{built[0]}/docs").collect()}
    by_group: dict[str, list] = {}
    for d, s in all_hits.items():
        by_group.setdefault(meta[d], []).append((d, s))
    for g in by_group:
        by_group[g].sort(key=lambda kv: (-kv[1], kv[0]))
    reps = sorted(((m[0][1], m[0][0], g) for g, m in by_group.items()),
                  key=lambda t: (-t[0], t[1]))[:5]
    hits = sorted((r for r in got if r["section"] == "hit"),
                  key=lambda r: r["hit_rank"])
    assert [(r["group_value"], r["doc_id"]) for r in hits] == \
        [(g, d) for _, d, g in reps]
    assert [r["hit_rank"] for r in hits] == list(range(1, len(reps) + 1))
    assert all(r["member_rank"] == 0 for r in hits)
    want_rank = {g: i + 1 for i, (_, _, g) in enumerate(reps)}
    exp: dict[str, list] = {}
    for r in got:
        if r["section"] == "expand":
            exp.setdefault(r["group_value"], []).append(
                (r["member_rank"], r["doc_id"], r["hit_rank"]))
    # expansion exists only for page groups, carries the page's
    # hit_rank, and is the group's members 2..3 in score order
    assert set(exp) <= {g for _, _, g in reps}
    for _, _, g in reps:
        want = by_group[g][1:3]
        gotm = sorted(exp.get(g, []))
        assert [d for _, d, _ in gotm] == [d for d, _ in want], g
        assert [m for m, _, _ in gotm] == list(range(1, len(want) + 1))
        assert all(hr == want_rank[g] for _, _, hr in gotm)


def test_child_topk(spark, built):
    """{!child}: every member of the matching parents carries its
    parent's aggregate score; brute-forced from the public API."""
    idx = open_index(spark, built[0])
    got = idx.child_topk(["def"], parent_col="lang", score_mode="max",
                         k=15).collect()
    all_hits = dict(idx.topk(["def"], k=10**6, kernel="exhaustive"))
    meta = {r["doc_id"]: r["lang"] for r in
            spark.read.parquet(f"{built[0]}/docs").collect()}
    pscore: dict[str, float] = {}
    n_hits: dict[str, int] = {}
    for d, s in all_hits.items():
        g = meta[d]
        pscore[g] = max(pscore.get(g, 0.0), s)
        n_hits[g] = n_hits.get(g, 0) + 1
    members = sorted(
        ((pscore[g], g, d) for d, g in meta.items() if g in pscore),
        key=lambda t: (-t[0], t[1], t[2]))
    assert [(r["doc_id"], r["parent"]) for r in got] == \
        [(d, g) for _, g, d in members[:15]]
    for r in got:
        assert r["score"] == pytest.approx(pscore[r["parent"]], rel=1e-9)
        assert r["n_hits"] == n_hits[r["parent"]]


def test_edismax_identities(spark, built):
    """The composed scorer degenerates correctly: single field ==
    plain topk; two fields at tie=1 == the weighted-sum multi-field
    path."""
    idx = open_index(spark, built[0])
    terms = ["def", "value"]
    got = idx.edismax(terms, qf={"code.content": 1.0}, k=10).collect()
    want = idx.topk(terms, k=10, kernel="exhaustive")
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["final"] == pytest.approx(s, rel=1e-9)

    w = {"code.content": 1.0, "code.ident.split": 2.0}
    got2 = idx.edismax(terms, qf=w, tie=1.0, k=10).collect()
    want2 = idx.topk_fields(terms, fields=w, k=10)
    assert [r["doc_id"] for r in got2] == [d for d, _ in want2]
    for r, (_, s) in zip(got2, want2):
        assert r["final"] == pytest.approx(s, rel=1e-9)


def test_edismax_composed_brute_force(spark, built):
    """qf + tie + mm + bq + bf + boost in ONE query, verified against
    a pure-Python composition of per-(term, field) contribution maps
    taken from the public single-term API."""
    idx = open_index(spark, built[0])
    f1, f2 = "code.content", "code.ident.split"
    terms = ["def", "value", "posting"]
    w, tie, mm = {f1: 1.0, f2: 2.0}, 0.3, 2
    big = 10**6
    per = {(t, f): dict(idx.topk([t], k=big, field=f, kernel="exhaustive"))
           for t in terms for f in (f1, f2)}
    bq_map = dict(idx.topk(["alpha"], k=big, field=f1, kernel="exhaustive"))
    meta = {r["doc_id"]: len(r["path"]) for r in
            spark.read.parquet(f"{built[0]}/docs").collect()}
    expect = []
    for d in {d for m in per.values() for d in m}:
        tot, n = 0.0, 0
        for t in terms:
            vals = [w[f] * per[(t, f)][d] for f in (f1, f2)
                    if d in per[(t, f)]]
            if vals:
                n += 1
                tot += max(vals) + tie * (sum(vals) - max(vals))
        if n >= mm:
            final = (tot + 0.7 * bq_map.get(d, 0.0)
                     + 0.01 * meta[d]) * (1.0 + 0.001 * meta[d])
            expect.append((d, tot, final))
    expect.sort(key=lambda x: (-x[2], x[0]))
    got = idx.edismax(terms, qf=w, tie=tie, mm=mm, bq={"alpha": 0.7},
                      bf="0.01 * length(path)",
                      boost="1.0 + 0.001 * length(path)", k=10).collect()
    assert len(expect) > 10
    assert [r["doc_id"] for r in got] == [d for d, _, _ in expect[:10]]
    for r, (_, tot, fin) in zip(got, expect):
        assert r["score"] == pytest.approx(tot, rel=1e-9)
        assert r["final"] == pytest.approx(fin, rel=1e-9)


def test_join_topk_cross_index(spark, built, tmp_path):
    """{!join fromIndex=other}: the inner query evaluates on ANOTHER
    index whose matches produce the key set; from_index=self must
    reproduce the same-collection join exactly."""
    idx = open_index(spark, built[0])
    same = idx.join_topk(["alpha"], ["def"], k=8, join_col="lang")
    via_self = idx.join_topk(["alpha"], ["def"], k=8, join_col="lang",
                             from_index=idx)
    assert [tuple(r) for r in same.collect()] == \
        [tuple(r) for r in via_self.collect()]

    out2 = str(tmp_path / "other")
    build_index(spark, synth_source(spark, 150, partitions=3), out2,
                n_buckets=4)
    other = open_index(spark, out2)
    got = idx.join_topk(["alpha"], ["def"], k=8, join_col="lang",
                        from_index=other).collect()
    meta2 = {r["doc_id"]: r["lang"] for r in
             spark.read.parquet(f"{out2}/docs").collect()}
    keys = {meta2[d] for d, _ in other.topk(["alpha"], k=10**6)}
    meta = {r["doc_id"]: r["lang"] for r in
            spark.read.parquet(f"{built[0]}/docs").collect()}
    expect = sorted(((d, s) for d, s in
                     idx.topk(["def"], k=10**6, kernel="exhaustive")
                     if meta[d] in keys), key=lambda kv: (-kv[1], kv[0]))[:8]
    assert [r["doc_id"] for r in got] == [d for d, _ in expect]
    assert all(r["lang"] in keys for r in got)


def test_search_sorted_pagination(spark, built):
    """Solr sort/start/rows: metadata ordering with deterministic
    tiebreak, pages abut with no overlap or gap."""
    idx = open_index(spark, built[0])
    all_hits = dict(idx.topk(["def"], k=10**6, kernel="exhaustive"))
    meta = {r["doc_id"]: r["path"] for r in
            spark.read.parquet(f"{built[0]}/docs").collect()}
    expect = sorted(((meta[d], -s, d) for d, s in all_hits.items()))
    p1 = idx.search_sorted(["def"], "path", start=0, rows=5).collect()
    p2 = idx.search_sorted(["def"], "path", start=5, rows=5).collect()
    got = [(r["sort_value"], r["doc_id"]) for r in p1 + p2]
    assert got == [(v, d) for v, _, d in expect[:10]]
    # descending flips the sort column but keeps tiebreakers
    # (score DESC, id ASC): stable two-pass sort builds the oracle
    d1 = idx.search_sorted(["def"], "path", ascending=False, rows=3).collect()
    rev = sorted(((meta[d], -s, d) for d, s in all_hits.items()))
    rev.sort(key=lambda t: t[0], reverse=True)
    assert [(r["sort_value"], r["doc_id"]) for r in d1] == \
        [(v, d) for v, _, d in rev[:3]]


def test_facet_range_and_export(spark, built, tmp_path):
    """Range faceting matches a brute-force histogram; export writes
    exactly the match set, tombstones excluded from both."""
    idx = open_index(spark, built[0])
    all_hits = set(dict(idx.topk(["def"], k=10**6, kernel="exhaustive")))
    docs = {r["doc_id"]: r for r in
            spark.read.parquet(f"{built[0]}/docs").collect()}
    # brute force histogram over path-length (a numeric proxy column
    # isn't in the docs table, so facet over the doc_id low bits via
    # n/a — use the 'bucket' column which IS numeric)
    got = {r["bucket_start"]: r["n_docs"] for r in
           idx.facet_range(["def"], facet="bucket", start=0, end=64,
                           gap=2).collect()}
    want = {}
    for d in all_hits:
        b = docs[d]["bucket"]
        if 0 <= b < 64:
            k = float((b // 2) * 2)
            want[k] = want.get(k, 0) + 1
    assert got == want

    out = str(tmp_path / "export")
    n = idx.export_matches(["def"], out, columns=["repo", "path"])
    exported = spark.read.parquet(out)
    assert n == len(all_hits)
    assert {r["doc_id"] for r in exported.select("doc_id").collect()} == all_hits
    assert set(exported.columns) == {"doc_id", "repo", "path"}

    # tombstoned doc disappears from range facet and export
    victim = sorted(all_hits)[0]
    idx.delete([victim])
    try:
        n2 = idx.export_matches(["def"], str(tmp_path / "export2"))
        assert n2 == n - 1
    finally:
        idx._tombstones = idx._tombstones - {victim}  # fixture: restore


def test_search_after_cursor_paging(spark, built):
    """Solr cursorMark: keyset pages tile the full sorted match set
    exactly — no overlap, no gap, any depth — and agree with offset
    paging row-for-row."""
    idx = open_index(spark, built[0])
    all_hits = dict(idx.topk(["def"], k=10**6, kernel="exhaustive"))
    meta = {r["doc_id"]: r["path"] for r in
            spark.read.parquet(f"{built[0]}/docs").collect()}
    expect = sorted(((meta[d], -s, d) for d, s in all_hits.items()))

    pages, after = [], None
    while True:
        rows = idx.search_after(["def"], "path", after=after,
                                rows=7).collect()
        if not rows:
            break
        pages.extend(rows)
        last = rows[-1]
        after = (last["sort_value"], last["score"], last["doc_id"])
    assert [(r["sort_value"], r["doc_id"]) for r in pages] == \
        [(v, d) for v, _, d in expect]

    # page 2 via cursor == page 2 via offset
    p1 = idx.search_after(["def"], "path", rows=5).collect()
    c = (p1[-1]["sort_value"], p1[-1]["score"], p1[-1]["doc_id"])
    by_cursor = idx.search_after(["def"], "path", after=c, rows=5).collect()
    by_offset = idx.search_sorted(["def"], "path", start=5, rows=5).collect()
    assert [r["doc_id"] for r in by_cursor] == \
        [r["doc_id"] for r in by_offset]

    # descending cursor paging
    d1 = idx.search_after(["def"], "path", ascending=False, rows=3).collect()
    c = (d1[-1]["sort_value"], d1[-1]["score"], d1[-1]["doc_id"])
    d2 = idx.search_after(["def"], "path", after=c, ascending=False,
                          rows=3).collect()
    off = idx.search_sorted(["def"], "path", ascending=False, start=3,
                            rows=3).collect()
    assert [r["doc_id"] for r in d2] == [r["doc_id"] for r in off]


def test_facet_pivot_and_metric_stats(spark, built):
    """Pivot counts == brute-force (lang, repo) recount; stats facet ==
    brute-force doclen aggregation per lang."""
    idx = open_index(spark, built[0])
    all_hits = {d for d, _ in idx.topk(["def"], k=10**6,
                                       kernel="exhaustive")}
    docs = {r["doc_id"]: r for r in
            spark.read.parquet(f"{built[0]}/docs").collect()}
    got = {(r["value1"], r["value2"]): r["n_docs"] for r in
           idx.facet_pivot(["def"], fields=("lang", "repo"),
                           k_facets=10**6).collect()}
    want: dict[tuple, int] = {}
    for d in all_hits:
        k = (docs[d]["lang"], docs[d]["repo"])
        want[k] = want.get(k, 0) + 1
    assert got == want and got

    # Solr-default top-N: the k_facets cut is the count-desc prefix.
    top = [((r["value1"], r["value2"]), r["n_docs"]) for r in
           idx.facet_pivot(["def"], fields=("lang", "repo"),
                           k_facets=5).collect()]
    full_sorted = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert top == full_sorted[:5]

    dl = {r["doc_id"]: r["len"] for r in
          spark.read.parquet(f"{built[0]}/doclen")
          .filter("field = 'code.content'").collect()}
    stats = {r["value"]: r for r in
             idx.facet_metric_stats(["def"], facet="lang").collect()}
    by_lang: dict[str, list[int]] = {}
    for d in all_hits:
        by_lang.setdefault(docs[d]["lang"], []).append(dl[d])
    assert set(stats) == set(by_lang)
    for lang, lens in by_lang.items():
        r = stats[lang]
        assert r["n_docs"] == len(lens)
        assert r["sum_len"] == sum(lens)
        assert r["min_len"] == min(lens) and r["max_len"] == max(lens)
        assert abs(r["avg_len"] - sum(lens) / len(lens)) < 1e-4

    # percentiles: exact linear interpolation == numpy's default
    pst = {r["value"]: r for r in
           idx.facet_metric_stats(["def"], facet="lang",
                                  percentiles=[0.5, 0.95]).collect()}
    for lang, lens in by_lang.items():
        want50 = float(np.percentile(lens, 50))
        want95 = float(np.percentile(lens, 95))
        assert abs(pst[lang]["p50_len"] - want50) < 1e-4, lang
        assert abs(pst[lang]["p95_len"] - want95) < 1e-4, lang


def test_spellcheck_and_get_doc(spark, built):
    idx = open_index(spark, built[0])
    res = idx.spellcheck(["def", "deff", "zzzzqqqxx"])
    by = {t: (c, df, dist) for t, c, df, dist in res["terms"]}
    assert by["def"][0] == "def" and by["def"][2] == 0 and by["def"][1] > 0
    assert by["deff"][0] == "def" and by["deff"][2] == 1
    assert by["zzzzqqqxx"] == ("zzzzqqqxx", 0, 0)  # nothing within 2 edits
    assert res["changed"]
    assert res["collation"] == "def def zzzzqqqxx"

    some = idx.topk(["def"], k=1)[0][0]
    row = idx.get_doc(some)
    assert row is not None and row["doc_id"] == some and row["path"]
    assert idx.get_doc(999_999_999_999) is None


def test_explain_decomposition(spark, built):
    """Solr debugQuery analog: explain()'s per-term contribs re-derive
    the exact score topk ranked by, for hits and for a no-match doc."""
    out, _ = built
    idx = open_index(spark, out)
    terms = ["def", "spark"]
    hits = idx.topk(terms, k=3)
    assert hits
    for doc_id, score in hits:
        ex = idx.explain(terms, doc_id)
        assert ex["doc_id"] == doc_id
        assert abs(ex["score"] - score) < 1e-4
        got = sum(t["contrib"] for t in ex["terms"])
        assert abs(got - score) < 1e-4
        for t in ex["terms"]:
            assert t["tf"] >= 1 and t["df"] >= 1 and t["dl"] >= 1
    # a doc that matches nothing decomposes to zero terms
    ex0 = idx.explain(["zzzznotaterm"], hits[0][0])
    assert ex0["terms"] == [] and ex0["score"] == 0.0


def test_topk_boosted(spark, built):
    """bf= additive boost: final == score + boost per row, ordering is
    by final, and a zero boost reproduces the unboosted distributed
    ranking."""
    out, _ = built
    idx = open_index(spark, out)
    terms = ["def", "spark"]
    rows = idx.topk_boosted(terms, "0.001 * length(path)", k=10).collect()
    assert rows
    finals = [r["final"] for r in rows]
    assert finals == sorted(finals, reverse=True)
    for r in rows:
        assert abs(r["final"] - (r["score"] + r["boost"])) < 1e-12
        assert r["boost"] > 0
    zero = idx.topk_boosted(terms, "0.0", k=10).collect()
    plain = idx.topk(terms, k=10)
    assert [(r["doc_id"], round(r["score"], 6)) for r in zero] == \
        [(d, round(s, 6)) for d, s in plain]


def test_topk_boosted_mult(spark, built):
    """boost= multiplicative (edismax): final == score × boost per row,
    boost=1.0 reproduces the unboosted ranking, and a length-penalizing
    boost actually reorders relative to the additive form's input."""
    out, _ = built
    idx = open_index(spark, out)
    terms = ["def", "spark"]
    rows = idx.topk_boosted(terms, "100.0 / (100.0 + length(path))",
                            k=10, mode="mult").collect()
    assert rows
    finals = [r["final"] for r in rows]
    assert finals == sorted(finals, reverse=True)
    for r in rows:
        assert abs(r["final"] - r["score"] * r["boost"]) < 1e-12
        assert 0 < r["boost"] < 1
    one = idx.topk_boosted(terms, "1.0", k=10, mode="mult").collect()
    plain = idx.topk(terms, k=10)
    assert [(r["doc_id"], round(r["score"], 6)) for r in one] == \
        [(d, round(s, 6)) for d, s in plain]
    import pytest as _pt
    with _pt.raises(ValueError):
        idx.topk_boosted(terms, "1.0", mode="nope")


def test_terms_enum(spark, built):
    """Solr TermsComponent analog: prefix/mincount/limit/sort behave
    and the counts agree with suggest_terms on the same prefix."""
    out, _ = built
    idx = open_index(spark, out)
    got = idx.terms_enum(prefix="s", mincount=1, limit=5)
    assert got == idx.suggest_terms("s", limit=5)
    assert all(t.startswith("s") for t, _ in got)
    dfs = [df for _, df in got]
    assert dfs == sorted(dfs, reverse=True) and len(got) <= 5
    # mincount drops the tail
    high = idx.terms_enum(prefix="s", mincount=dfs[0], limit=50)
    assert all(df >= dfs[0] for _, df in high)
    # index order sorts lexicographically
    by_index = idx.terms_enum(prefix="s", limit=5, sort="index")
    terms = [t for t, _ in by_index]
    assert terms == sorted(terms)
    # regex filter
    rx = idx.terms_enum(regex="^s.*t$", limit=20)
    assert all(t.startswith("s") and t.endswith("t") for t, _ in rx)
    assert idx.terms_enum(prefix="zzzznope") == []


def test_suggest_infix(spark, built):
    """AnalyzingInfixSuggester behavior: the fragment matches anywhere
    in the term, prefix hits rank above pure-infix hits, then df DESC;
    infix=False stays the pushdown prefix path."""
    out, _ = built
    idx = open_index(spark, out)
    frag = "al"   # 'value' contains it; terms starting 'al*' may exist
    got = idx.suggest_terms(frag, limit=30, infix=True)
    assert got and all(frag in t for t, _ in got)
    # superset of the prefix answer, and the prefix block leads
    pref = idx.suggest_terms(frag, limit=30)
    assert set(pref) <= set(got) or len(got) == 30
    flags = [t.startswith(frag) for t, _ in got]
    assert flags == sorted(flags, reverse=True)   # prefix block first
    for block in (True, False):
        dfs = [df for (t, df) in got if t.startswith(frag) == block]
        assert dfs == sorted(dfs, reverse=True)
    # a pure-infix fragment that no term starts with
    inner = idx.suggest_terms("alu", limit=10, infix=True)
    assert any(not t.startswith("alu") for t, _ in inner)
    assert idx.suggest_terms("", infix=True) == []


def test_topk_elevated(spark, built):
    """QueryElevationComponent analog: pins first in given order,
    organic fills without duplicates, non-matching pin scores 0."""
    out, _ = built
    idx = open_index(spark, out)
    terms = ["def", "spark"]
    plain = idx.topk(terms, k=10)
    assert len(plain) >= 4
    # pin organic ranks 3 and 2 (in that order)
    pins = [plain[2][0], plain[1][0]]
    got = idx.topk_elevated(terms, pins, k=10)
    assert [h["doc_id"] for h in got[:2]] == pins
    assert all(h["elevated"] for h in got[:2])
    # pinned docs keep their true scores
    scores = dict(plain)
    assert got[0]["score"] == pytest.approx(scores[pins[0]], abs=1e-4)
    # organic tail = plain ranking minus the pins, order preserved
    organic = [h["doc_id"] for h in got[2:]]
    expect = [d for d, _ in plain if d not in set(pins)][:8]
    assert organic == expect
    assert not any(h["elevated"] for h in got[2:])
    # a pin that matches no query term still appears, score 0 (forceElevation)
    forced = idx.topk_elevated(["zzzznotaterm"], [plain[0][0]], k=5)
    assert forced[0]["doc_id"] == plain[0][0] and forced[0]["score"] == 0.0
    # exclude="true" list: the doc drops, the tail closes up, and the
    # page stays k-deep (over-fetch covers the removal)
    excl = idx.topk_elevated(terms, [], k=4, exclude=[plain[0][0]])
    assert [h["doc_id"] for h in excl] == [d for d, _ in plain[1:5]]
    assert all(h["excluded"] is False for h in excl)
    # exclusion beats elevation when an id is in both lists (Solr rule)
    both = idx.topk_elevated(terms, [plain[0][0]], k=4,
                             exclude=[plain[0][0]])
    assert plain[0][0] not in [h["doc_id"] for h in both]
    # markExcludes: the doc stays, flagged, ranking otherwise organic
    marked = idx.topk_elevated(terms, [], k=4, exclude=[plain[0][0]],
                               mark_excludes=True)
    assert [h["doc_id"] for h in marked] == [d for d, _ in plain[:4]]
    assert marked[0]["excluded"] and not any(
        h["excluded"] for h in marked[1:])


def test_join_topk(spark, built):
    """Solr {!join} analog: outer BM25 ranking restricted to join keys
    (repos) that contain an inner match; equals the hand-computed
    semi-join of topk over the full match sets."""
    out, _ = built
    idx = open_index(spark, out)
    docs = spark.read.parquet(f"{out}/docs")
    inner, outer = ["alpha"], ["def", "return"]
    got = idx.join_topk(inner, outer, k=10, join_col="repo").collect()
    assert got
    # expected: repos of inner matches
    inner_ids = {d for d, _ in idx.topk(inner, k=10_000)}
    repo_of = {r["doc_id"]: r["repo"] for r in
               docs.select("doc_id", "repo").collect()}
    ok_repos = {repo_of[d] for d in inner_ids}
    organic = [(d, s) for d, s in idx.topk(outer, k=10_000)
               if repo_of[d] in ok_repos][:10]
    assert [(r["doc_id"], round(r["score"], 5)) for r in got] == \
        [(d, round(s, 5)) for d, s in organic]
    assert all(r["repo"] in ok_repos for r in got)
    # no inner match → empty
    assert idx.join_topk(["zzzznope"], outer, k=5).count() == 0


def test_join_and_terms_plan_shape(spark, built):
    """Plan regression for the session-6 surfaces: join_topk must keep
    the global cut as TakeOrderedAndProject with broadcast joins (the
    inner key set is the small side by construction), prune the docs
    scan to (doc_id, join key), and push the term predicates; the
    terms_enum scan must exclude the posting blobs from ReadSchema."""
    out, _ = built
    idx = open_index(spark, out)

    def fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))

    plan = fmt(idx.join_topk(["alpha"], ["def"], k=5, join_col="repo"))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # the docs table is scanned only for (doc_id, repo) in this plan
    assert any("doc_id:bigint,repo:string" in ln and "content" not in ln
               for ln in reads), reads
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("EqualTo(term,alpha)" in ln for ln in pushed), pushed

    vocab = idx._postings.filter(
        (F.col("field") == "code.content") & F.col("term").startswith("s")
    ).groupBy("term").agg(F.sum("df").alias("df"))
    vplan = fmt(vocab)
    vreads = [ln for ln in vplan.splitlines() if "ReadSchema" in ln]
    assert all("doc_ids" not in ln and "tfs" not in ln for ln in vreads), vreads
    vpushed = [ln for ln in vplan.splitlines() if "PushedFilters" in ln][0]
    assert "StringStartsWith(term,s)" in vpushed, vpushed


def test_topk_synonyms(spark, built):
    """Query-time synonym groups score as ONE merged pseudo-term:
    degenerate groups reproduce plain topk exactly; a real group's
    score matches a hand recompute from per-member tf/df via explain's
    primitives (summed member tf, union df, recomputed idf)."""
    import math

    out, _ = built
    idx = open_index(spark, out)
    # degenerate: every group is a singleton → identical to topk
    plain = idx.topk(["def", "spark"], k=10)
    syn = idx.topk_synonyms({"def": [], "spark": []}, k=10)
    assert [(d, round(s, 9)) for d, s in syn] == \
        [(d, round(s, 9)) for d, s in plain]
    # unknown synonym members change nothing
    syn2 = idx.topk_synonyms({"def": ["zzzznope"], "spark": []}, k=10)
    assert [(d, round(s, 9)) for d, s in syn2] == \
        [(d, round(s, 9)) for d, s in plain]

    # real merge: group {def, return} — recompute expected score for
    # the top hit from raw per-term postings
    got = idx.topk_synonyms({"def": ["return"]}, k=5)
    assert got
    top_doc = got[0][0]
    ex_def = idx.explain(["def"], top_doc)
    ex_ret = idx.explain(["return"], top_doc)
    tf = sum(t["tf"] for t in ex_def["terms"] + ex_ret["terms"])
    dl = (ex_def["terms"] + ex_ret["terms"])[0]["dl"]
    n_docs, avgdl = idx.stats["code.content"]
    # union df from RAW postings (like the engine: stored df counts
    # tombstoned docs too, exactly as plain topk's idf does)
    lists, _ = idx._term_lists(["def", "return"], "code.content")
    union_df = len({int(i) for tl in lists for i in tl.decode_all()[0]})
    idf = math.log(1.0 + (n_docs - union_df + 0.5) / (union_df + 0.5))
    want = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert got[0][1] == pytest.approx(want, rel=1e-9)
    # merged group ranking differs from naive OR when tfs combine
    assert union_df > max(t["df"] for t in ex_def["terms"] + ex_ret["terms"]) / 2


def test_facet_queries(spark, built):
    """facet.query analog: per-label counts equal brute recounts from
    the index's own match sets; tombstones excluded."""
    out, _ = built
    idx = open_index(spark, out)
    counts = idx.facet_queries({"d": ["def"], "d_or_r": ["def", "return"],
                                "nothing": ["zzzznope"]})
    ids_d = {d for d, _ in idx.topk(["def"], k=100000)}
    ids_or = {d for d, _ in idx.topk(["def", "return"], k=100000)}
    assert counts["d"] == len(ids_d)
    assert counts["d_or_r"] == len(ids_or) >= counts["d"]
    assert counts["nothing"] == 0
    # deleting a matching doc decrements the count
    victim = next(iter(ids_d))
    idx.delete([victim])
    try:
        assert idx.facet_queries({"d": ["def"]})["d"] == len(ids_d) - 1
    finally:
        idx._tombstones = idx._tombstones - {victim}  # restore fixture


def test_min_match(spark, tmp_path):
    """mm=2 of 3 terms: score == BM25 sum over matched terms, doc set
    == {docs matching >= 2 terms}; mm=1 == OR, mm=len == AND."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    terms = ["def", "alpha", "sigma"]

    acc: dict[int, float] = {}
    hits: dict[int, int] = {}
    for t in terms:
        for d, s in idx.topk([t], k=10**6, kernel="exhaustive"):
            acc[d] = acc.get(d, 0.0) + s
            hits[d] = hits.get(d, 0) + 1
    expect = sorted(((d, s) for d, s in acc.items() if hits[d] >= 2),
                    key=lambda kv: (-kv[1], kv[0]))[:12]
    got = idx.topk(terms, k=12, min_match=2)
    assert [d for d, _ in got] == [d for d, _ in expect]
    assert got and all(abs(a - b) < 1e-9
                       for (_, a), (_, b) in zip(got, expect))

    assert idx.topk(terms, k=50, min_match=1) == idx.topk(
        terms, k=50, kernel="exhaustive")
    assert [d for d, _ in idx.topk(terms, k=50, min_match=3)] == \
        [d for d, _ in idx.topk(terms, k=50, mode="and")]
    assert idx.topk(terms, k=5, min_match=4) == []


def test_topk_fields_dismax_tie(spark, tmp_path):
    """tie=t: score == best field + t*(sum-best); tie=1 == weighted sum."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    terms = ["def", "alpha"]
    weights = {"code.content": 1.0, "code.ident.split": 2.5}

    per_field: dict[int, list[float]] = {}
    for field, w in weights.items():
        for d, s in idx.topk(terms, k=10**6, field=field, kernel="exhaustive"):
            per_field.setdefault(d, []).append(w * s)
    tie = 0.1
    acc = {d: max(v) + tie * (sum(v) - max(v)) for d, v in per_field.items()}
    expect = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:12]
    got = idx.topk_fields(terms, weights, k=12, tie=tie)
    assert [d for d, _ in got] == [d for d, _ in expect]
    assert got and all(abs(a - b) < 1e-9
                       for (_, a), (_, b) in zip(got, expect))

    full = idx.topk_fields(terms, weights, k=12, tie=1.0)
    plain = idx.topk_fields(terms, weights, k=12)
    assert [d for d, _ in full] == [d for d, _ in plain]
    assert all(abs(a - b) < 1e-9 for a, b in zip(
        [s for _, s in full], [s for _, s in plain]))


def test_facet_params(spark, tmp_path):
    """facet.prefix / sort=index / offset paging / missing: each
    equals the brute-force recount transformation of the full list."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    terms = ["def", "alpha"]
    full = [(r["value"], r["n_docs"]) for r in
            idx.facet_counts(terms, facet="lang", k_facets=100).collect()]
    assert full

    # sort=index: same pairs, lexicographic by value
    by_index = [(r["value"], r["n_docs"]) for r in
                idx.facet_counts(terms, facet="lang", k_facets=100,
                                 sort="index").collect()]
    assert by_index == sorted(full)

    # prefix: exactly the values starting with it, order preserved
    p = full[0][0][0]  # first char of the top value
    pref = [(r["value"], r["n_docs"]) for r in
            idx.facet_counts(terms, facet="lang", k_facets=100,
                             prefix=p).collect()]
    assert pref == [(v, n) for v, n in full if v.startswith(p)]

    # offset paging reconstructs the full constraint list
    pages = []
    off = 0
    while True:
        page = [(r["value"], r["n_docs"]) for r in
                idx.facet_counts(terms, facet="lang", k_facets=2,
                                 offset=off).collect()]
        if not page:
            break
        pages += page
        off += 2
    assert pages == full

    # missing: one NULL row counting matched docs with NULL facet (0
    # here — synth langs are always set), constraint rows unchanged
    with_missing = idx.facet_counts(terms, facet="lang", k_facets=100,
                                    missing=True).collect()
    null_rows = [r for r in with_missing if r["value"] is None]
    assert len(null_rows) == 1 and null_rows[0]["n_docs"] == 0
    assert [(r["value"], r["n_docs"]) for r in with_missing
            if r["value"] is not None] == full


def test_topk_boost_query(spark, tmp_path):
    """bq=: score == base BM25 + w × boost-term BM25; a doc matching
    only the boost term still surfaces; unknown boost term is a no-op."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    terms, boost, w = ["def", "alpha"], "sigma", 1.5

    acc = dict(idx.topk(terms, k=10**6, kernel="exhaustive"))
    boost_scores = dict(idx.topk([boost], k=10**6, kernel="exhaustive"))
    for d, s in boost_scores.items():
        acc[d] = acc.get(d, 0.0) + w * s
    expect = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:12]
    got = idx.topk_boost_query(terms, {boost: w}, k=12)
    assert [d for d, _ in got] == [d for d, _ in expect]
    assert got and all(abs(a - b) < 1e-9
                       for (_, a), (_, b) in zip(got, expect))

    plain = idx.topk(terms, k=12, kernel="exhaustive")
    noop = idx.topk_boost_query(terms, {"zzz_never": 9.0}, k=12)
    assert [d for d, _ in noop] == [d for d, _ in plain]


def test_facet_and_export_plan_shape(spark, built):
    """Plan regression for the shared match-set paths (facet / stats /
    export): the postings scan must push the term equality predicates
    AND read only the doc_ids blob (never tfs/dls — facets don't score),
    and the docs-table scan must prune to (doc_id, facet column)."""
    out, _ = built
    idx = open_index(spark, out)

    def fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))

    plan = fmt(idx.facet_counts(["def", "alpha"], facet="lang"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("term" in ln and ("In(term" in ln or "EqualTo(term" in ln)
               for ln in pushed), pushed
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    postings_reads = [ln for ln in reads if "doc_ids" in ln]
    assert postings_reads and all(
        "tfs" not in ln and "dls" not in ln for ln in postings_reads), reads
    assert any("doc_id:bigint,lang:string" in ln and "content" not in ln
               for ln in reads), reads


def test_topk_reranked(spark, built):
    """Solr ReRankQParser: the top rerank_docs of the main ranking gain
    weight × BM25(rerank terms); docs outside the head never gain the
    boost. Equals brute-force recomputation; weight=0 is a no-op."""
    out, _ = built
    idx = open_index(spark, out)
    main_terms, rr_terms = ["def", "return"], ["alpha"]
    base = idx.topk(main_terms, k=10)
    assert idx.topk_reranked(main_terms, rr_terms, k=10,
                             rerank_docs=50, weight=0.0) == base

    got = idx.topk_reranked(main_terms, rr_terms, k=10,
                            rerank_docs=50, weight=2.0)
    main = dict(idx.topk(main_terms, k=10**6, kernel="exhaustive"))
    rr = dict(idx.topk(rr_terms, k=10**6, kernel="exhaustive"))
    ordered = sorted(main.items(), key=lambda kv: (-kv[1], kv[0]))
    head = {d for d, _ in ordered[:50]}
    combined = {d: s + (2.0 * rr.get(d, 0.0) if d in head else 0.0)
                for d, s in main.items()}
    expect = sorted(combined.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(d, round(s, 9)) for d, s in got] == \
        [(d, round(s, 9)) for d, s in expect]

    # a doc OUTSIDE the head keeps its original score even if it
    # matches the rerank query: shrink the head to 1 and check that
    # ranks 2+ carry unboosted scores
    tiny = idx.topk_reranked(main_terms, main_terms, k=5,
                             rerank_docs=1, weight=5.0)
    boosted_head = [d for d, _ in tiny if d == ordered[0][0]]
    assert boosted_head  # the single head doc got 6× its score → stays top
    for d, s in tiny[1:]:
        assert abs(s - main[d]) < 1e-12


def test_parent_topk_block_join(spark, built):
    """Block join to parent ({!parent} score modes): every mode equals
    the brute-force per-repo aggregate of child scores."""
    out, _ = built
    idx = open_index(spark, out)
    docs = spark.read.parquet(f"{out}/docs")
    all_hits = dict(idx.topk(["def", "return"], k=10**6,
                             kernel="exhaustive"))
    repo_of = {r["doc_id"]: r["repo"] for r in
               docs.select("doc_id", "repo").collect()}
    by_parent: dict[str, list[float]] = {}
    for d, s in all_hits.items():
        by_parent.setdefault(repo_of[d], []).append(s)

    import statistics

    for mode, fn in [("max", max), ("total", sum), ("min", min),
                     ("avg", statistics.fmean)]:
        got = idx.parent_topk(["def", "return"], parent_col="repo",
                              score_mode=mode, k=8).collect()
        expect = sorted(((p, len(v), fn(v)) for p, v in by_parent.items()),
                        key=lambda t: (-t[2], t[0]))[:8]
        assert [(r["parent"], r["n_children"], round(r["score"], 9))
                for r in got] == [(p, n, round(s, 9)) for p, n, s in expect]

    import pytest as _pt

    with _pt.raises(ValueError):
        idx.parent_topk(["def"], score_mode="nope")


def test_facet_interval(spark, built):
    """Solr facet.interval: arbitrary, possibly overlapping [lo,hi)
    intervals each count the match set once; zero-count intervals are
    reported (intervals are explicit, not discovered)."""
    out, _ = built
    idx = open_index(spark, out)
    matched = {d for d, _ in idx.topk(["def"], k=10**6,
                                      kernel="exhaustive")}
    meta = {r["doc_id"]: r["doc_id"] for r in
            spark.read.parquet(f"{out}/docs").collect()}
    cut = sorted(meta[d] for d in matched)[len(matched) // 2]
    ivs = [(0, cut, "lo"), (cut, 1 << 62, "hi"), (0, 1 << 62, "all"),
           (-9, -1, "none")]
    got = idx.facet_interval(["def"], ivs, facet="doc_id").collect()
    assert [r["label"] for r in got] == ["lo", "hi", "all", "none"]
    counts = {r["label"]: r["n_docs"] for r in got}
    assert counts["lo"] == sum(1 for d in matched if meta[d] < cut)
    assert counts["hi"] == sum(1 for d in matched if meta[d] >= cut)
    assert counts["all"] == len(matched)  # overlap allowed, full recount
    assert counts["none"] == 0


def test_facet_nested_subfacets(spark, built):
    """JSON Facet API nested terms facet: top buckets by match count,
    top-k_sub sub-values within each — equals the brute-force
    recount; sub ranks never mix across buckets."""
    out, _ = built
    idx = open_index(spark, out)
    matched = {d for d, _ in idx.topk(["def"], k=10**6,
                                      kernel="exhaustive")}
    meta = {r["doc_id"]: (r["lang"], r["repo"]) for r in
            spark.read.parquet(f"{out}/docs").collect()}
    from collections import Counter, defaultdict

    bucket_n = Counter(meta[d][0] for d in matched)
    sub_n = defaultdict(Counter)
    for d in matched:
        lang, repo = meta[d]
        sub_n[lang][repo] += 1

    got = idx.facet_nested(["def"], facet="lang", sub_facet="repo",
                           k_buckets=2, k_sub=3).collect()
    top_buckets = sorted(bucket_n, key=lambda v: (-bucket_n[v], v))[:2]
    assert [r["value"] for r in got if r["sub_rank"] == 1] == top_buckets
    for b in top_buckets:
        rows = [r for r in got if r["value"] == b]
        assert all(r["n_docs"] == bucket_n[b] for r in rows)
        expect = sorted(sub_n[b].items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        assert [(r["sub_value"], r["sub_n"]) for r in rows] == expect
        assert [r["sub_rank"] for r in rows] == list(range(1, len(expect) + 1))


def test_sort_by_function(spark, built):
    """Solr sort-by-function: sort_col accepts SQL expressions over
    docs-table columns, equal to the hand-computed ordering."""
    out, _ = built
    idx = open_index(spark, out)
    got = idx.search_sorted(["def"], "length(path)", ascending=False,
                            start=0, rows=6).collect()
    all_hits = dict(idx.topk(["def"], k=10**6, kernel="exhaustive"))
    meta = {r["doc_id"]: len(r["path"]) for r in
            spark.read.parquet(f"{out}/docs").collect()}
    expect = sorted(((-meta[d], -s, d) for d, s in all_hits.items()))[:6]
    assert [(r["doc_id"], r["sort_value"]) for r in got] == \
        [(d, -m) for m, _, d in expect]


def test_fetch_docs_fl(spark, built):
    """Stored-field retrieval for a hit page (Solr fl=): one
    column-pruned scan sized by the id set; tombstones omitted;
    unknown ids silently absent."""
    out, _ = built
    idx = open_index(spark, out)
    hits = idx.topk(["def"], k=4)
    ids = [d for d, _ in hits]
    got = idx.fetch_docs(ids, columns=["repo", "path"])
    assert set(got) == set(ids)
    meta = {r["doc_id"]: (r["repo"], r["path"]) for r in
            spark.read.parquet(f"{out}/docs").collect()}
    for d in ids:
        assert set(got[d]) == {"doc_id", "repo", "path"}
        assert (got[d]["repo"], got[d]["path"]) == meta[d]
    assert idx.fetch_docs([]) == {}
    assert idx.fetch_docs([-12345]) == {}


def test_match_stats_cardinality(spark, built):
    """Solr stats cardinality= (HLL): the sketch estimate lands within
    rsd-consistent distance of the exact distinct count."""
    out, _ = built
    idx = open_index(spark, out)
    row = idx.match_stats(["def"], stat_col="path",
                          cardinality=True).first()
    exact = row["n_values"]
    assert exact > 0
    assert abs(row["cardinality"] - exact) <= max(3, 0.05 * exact)


def test_topk_ltr_linear_model(spark, built):
    """LTR linear model: final = w0·BM25 + Σ w_f·feature — equals the
    brute-force recomputation over the match set; a zero-weight model
    reproduces plain BM25 order."""
    out, _ = built
    idx = open_index(spark, out)
    model = {"length(path)": 0.01, "lang = 'python'": 0.5}
    got = idx.topk_ltr(["def", "return"], model, k=10).collect()

    all_hits = dict(idx.topk(["def", "return"], k=10**6,
                             kernel="exhaustive"))
    meta = {r["doc_id"]: (len(r["path"]), r["lang"]) for r in
            spark.read.parquet(f"{out}/docs").collect()}
    combined = {
        d: s + 0.01 * meta[d][0] + 0.5 * (meta[d][1] == "python")
        for d, s in all_hits.items()
    }
    expect = sorted(combined.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["doc_id"], round(r["final"], 9)) for r in got] == \
        [(d, round(f, 9)) for d, f in expect]

    plain = idx.topk_ltr(["def", "return"], {"0": 0.0}, k=5).collect()
    assert [r["doc_id"] for r in plain] == \
        [d for d, _ in idx.topk(["def", "return"], k=5)]


def test_topk_distributed_min_match(spark, built):
    """Distributed mm parity: per-bucket match counting equals the
    serving path's global min_match ranking."""
    out, _ = built
    idx = open_index(spark, out)
    terms = ["def", "return", "alpha"]
    got = [(r["doc_id"], round(r["score"], 9)) for r in
           idx.topk_distributed(terms, k=10, min_match=2).collect()]
    expect = [(d, round(s, 9)) for d, s in
              idx.topk(terms, k=10, min_match=2)]
    assert got == expect and got


def test_topk_queries_group_query(spark, built):
    """Solr group.query: each labeled subquery's list equals its
    standalone topk; one postings prefetch serves all labels."""
    out, _ = built
    idx = open_index(spark, out)
    queries = {"defs": ["def"], "both": ["def", "return"],
               "none": ["zzzznope"]}
    got = idx.topk_queries(queries, k=5)
    assert set(got) == set(queries)
    for label, terms in queries.items():
        assert got[label] == idx.topk(terms, k=5), label


def test_match_stats_on_function(spark, built):
    """Solr stats on a function query: stat_col accepts expressions."""
    out, _ = built
    idx = open_index(spark, out)
    row = idx.match_stats(["def"], stat_col="length(path) % 10").first()
    matched = {d for d, _ in idx.topk(["def"], k=10**6,
                                      kernel="exhaustive")}
    meta = {r["doc_id"]: len(r["path"]) % 10 for r in
            spark.read.parquet(f"{out}/docs").collect()}
    vals = [meta[d] for d in matched]
    assert row["n_matched"] == len(vals)
    assert row["n_values"] == len(set(vals))
    assert row["min_value"] == min(vals) and row["max_value"] == max(vals)


def test_page_term_vectors_parity(spark, built):
    """page_term_vectors == per-doc doc_term_vector for every page id,
    from ONE scan instead of one per doc."""
    out, _ = built
    idx = open_index(spark, out)
    page = [d for d, _ in idx.topk(["def"], k=6)]
    tv = idx.page_term_vectors(page)
    assert tv
    for d in page:
        expect = dict(idx.doc_term_vector(d, top_m=10**6))
        got = {t: tf for dd, t, tf in tv if dd == d}
        assert got == expect, d


def test_cluster_topk(spark, built):
    """Solr clustering component: every page doc lands in exactly one
    cluster, labels are the brute-force argmax tf-idf distinguishing
    term, ordering is (n_docs DESC, label ASC)."""
    import math

    out, _ = built
    idx = open_index(spark, out)
    k, min_df, stop = 10, 2, 0.5
    page = [d for d, _ in idx.topk(["def"], k=k)]
    clusters = idx.cluster_topk(["def"], k=k, min_df=min_df,
                                stop_df_frac=stop)
    got_ids = [d for c in clusters for d in c["doc_ids"]]
    assert sorted(got_ids) == sorted(page)          # exact partition
    keys = [(-c["n_docs"], c["label"]) for c in clusters]
    assert keys == sorted(keys)
    for c in clusters:
        assert c["doc_ids"] == sorted(c["doc_ids"])
        assert c["n_docs"] == len(c["doc_ids"])

    # brute-force recompute of each doc's label
    n_docs, _ = idx.stats["code.content"]
    df_map = dict(idx.terms_enum(limit=10**6, sort="index"))
    expect = {}
    for d in page:
        best = None
        for t, tf in idx.doc_term_vector(d, top_m=10**6):
            df = df_map.get(t, 0)
            if df < min_df or df > stop * n_docs:
                continue
            w = tf * (math.log((n_docs + 1.0) / (df + 1.0)) + 1.0)
            if best is None or (-w, t) < (-best[0], best[1]):
                best = (w, t)
        expect[d] = best[1] if best else "(other)"
    for c in clusters:
        for d in c["doc_ids"]:
            assert expect[d] == c["label"], d


def test_select_json(spark, built):
    """Solr JSON Request API: filters bind BEFORE the page cut,
    numFound is the filtered match-set size, facets aggregate the
    FULL match set, fields enrich only the page, the filterCache
    memoizes, and unsupported shapes raise ValueError."""
    out, _ = built
    idx = open_index(spark, out)
    all_hits = idx.query_string("def return", k=10**6)
    keep = idx.predicate_ids("lang = 'python'")
    expect = [(d, s) for d, s in all_hits if d in keep]
    assert expect and len(expect) < len(all_hits)

    body = idx.select_json({
        "query": "def return", "filter": "lang = 'python'", "limit": 5,
        "fields": ["lang", "path"],
        "facet": {"langs": {"type": "terms", "field": "lang",
                            "limit": 3}}})
    resp = body["response"]
    assert resp["numFound"] == len(expect) and resp["start"] == 0
    assert [(d["doc_id"], d["score"]) for d in resp["docs"]] == expect[:5]
    assert all(d["lang"] == "python" and "path" in d for d in resp["docs"])
    assert body["facets"]["langs"] == [
        {"value": v, "count": n} for v, n in
        idx.facet_counts_for_ids([d for d, _ in expect], "lang", 3)]
    assert body["facets"]["langs"][0] == {"value": "python",
                                          "count": len(expect)}

    # offset paging over the same filtered ranking
    b2 = idx.select_json({"query": "def return",
                          "filter": ["lang = 'python'"],
                          "offset": 2, "limit": 3})
    assert [(d["doc_id"], d["score"]) for d in b2["response"]["docs"]] == \
        expect[2:5]

    # filterCache: the predicate is memoized (the raw set is computed
    # once); lookups subtract LIVE tombstones, so compare by value and
    # assert the cache key exists — identity only holds tombstone-free
    assert idx.predicate_ids("lang = 'python'") == keep
    assert "lang = 'python'" in idx._filter_cache

    with pytest.raises(ValueError):
        idx.select_json({"query": "def", "sort": "score desc"})
    with pytest.raises(ValueError):
        idx.select_json({"query": "  "})
    with pytest.raises(ValueError):
        idx.select_json({"query": "def",
                         "facet": {"x": {"type": "range",
                                         "field": "lang"}}})


def test_select_json_multiselect(spark, built):
    """Multi-select faceting ({!tag=} + domain.excludeTags, Solr JSON
    facet API): a facet excluding the tagged filter counts over the
    query ∩ remaining filters — the user's own selection does not
    collapse its facet — while the response and un-excluding facets
    apply everything; type=query facets count a sub-query over the
    facet's domain; the tag prefix never reaches the filterCache key."""
    out, _ = built
    idx = open_index(spark, out)
    qids = [d for d, _ in idx.query_string("def return", k=10**6)]
    lang = idx.predicate_ids("lang = 'python'")
    size = idx.predicate_ids("pmod(doc_id, 2) = 0")
    applied = [d for d in qids if d in lang and d in size]
    no_lang = [d for d in qids if d in size]
    assert applied and len(applied) < len(no_lang)

    body = idx.select_json({
        "query": "def return",
        "filter": ["{!tag=L}lang = 'python'", "pmod(doc_id, 2) = 0"],
        "limit": 3,
        "facet": {
            "langs": {"type": "terms", "field": "lang", "limit": 10,
                      "domain": {"excludeTags": ["L"]}},
            "langs_applied": {"type": "terms", "field": "lang",
                              "limit": 10},
            "has_fast": {"type": "query", "q": "fast"},
            "has_fast_nolang": {"type": "query", "q": "fast",
                                "domain": {"excludeTags": "L"}},
        }})
    assert body["response"]["numFound"] == len(applied)
    assert body["facets"]["langs"] == [
        {"value": v, "count": n}
        for v, n in idx.facet_counts_for_ids(no_lang, "lang", 10)]
    assert len(body["facets"]["langs"]) > 1  # > one language bar
    assert body["facets"]["langs_applied"] == [
        {"value": "python", "count": len(applied)}]
    fast = {d for d, _ in idx.query_string("fast", k=10**6)}
    assert body["facets"]["has_fast"] == {
        "count": sum(1 for d in applied if d in fast)}
    assert body["facets"]["has_fast_nolang"] == {
        "count": sum(1 for d in no_lang if d in fast)}
    # the tag prefix is stripped before caching: tagged and untagged
    # spellings of one predicate share a single filterCache entry
    assert "lang = 'python'" in idx._filter_cache
    assert not any(k.startswith("{!tag") for k in idx._filter_cache)

    with pytest.raises(ValueError):  # unknown domain key
        idx.select_json({"query": "def",
                         "facet": {"x": {"type": "terms", "field": "lang",
                                         "domain": {"include": "all"}}}})
    with pytest.raises(ValueError):  # query facet without q
        idx.select_json({"query": "def",
                         "facet": {"x": {"type": "query"}}})
    with pytest.raises(ValueError):  # stray key on a terms facet
        idx.select_json({"query": "def",
                         "facet": {"x": {"type": "terms", "field": "lang",
                                         "q": "fast"}}})


def test_metrics(spark, built):
    """admin/metrics analog: cache counters move with usage, the
    ledger summary reflects the finished build."""
    out, _ = built
    idx = open_index(spark, out)
    m0 = idx.metrics()
    assert m0["term_cache"]["entries"] == 0
    # the module-shared index may carry tombstones from earlier tests
    assert m0["build_id"] and m0["tombstones_pending"] >= 0
    lb = m0["last_build"]
    assert lb["buckets_done"] > 0 and lb["postings_emitted"] > 0
    assert lb["bytes_compressed"] > 0 and lb["max_skew_ratio"] >= 1.0

    idx.topk(["def"], k=3)          # cold: term-cache misses
    # the repeat query now serves from the RESULT cache without
    # touching the term cache; a different shape over the same term
    # is the term-cache warm path
    idx.topk(["def"], k=4)          # warm: term-cache hits
    m1 = idx.metrics()
    tc = m1["term_cache"]
    assert tc["entries"] >= 1 and tc["bytes"] > 0
    assert tc["misses"] >= 1 and tc["hits"] >= 1
    assert 0.0 < tc["hit_rate"] < 1.0
    idx.topk(["def"], k=3)          # result-cache hit
    rc = idx.metrics()["result_cache"]
    assert rc["hits"] >= 1 and rc["entries"] >= 2
    idx.predicate_ids("lang = 'python'")
    assert idx.metrics()["filter_cache"]["entries"] == 1
    idx.refresh()                   # invalidation resets entries
    assert idx.metrics()["filter_cache"]["entries"] == 0


def test_dunder_terms_survive_vocab_surfaces(spark, tmp_path):
    """Real dunder tokens like __init__ stay visible to every
    vocabulary surface (wildcard, range, fuzzy, page term vectors):
    no reader filters terms or fields by a ``__`` prefix, and the
    build's doclen and docs transport rows never reach postings."""
    src = synth_source(spark, 60).withColumn(
        "content", F.concat(F.lit("__init__ __main__ "), F.col("content")))
    out = str(tmp_path / "dunder")
    build_index(spark, src, out, n_buckets=2)
    idx = open_index(spark, out)
    wt = dict(idx.wildcard_terms("__*"))
    assert "__init__" in wt and "__main__" in wt
    assert "__init__" in dict(idx.range_terms("__a", "__z"))
    assert any(t == "__init__"
               for t, _, _ in idx.fuzzy_terms("__init_", max_dist=1))
    page = [d for d, _ in idx.topk(["__init__"], k=3)]
    assert page
    tv = idx.page_term_vectors(page)
    assert any(t == "__init__" for _, t, _ in tv)
    for d in page:
        assert dict(idx.doc_term_vector(d, top_m=10**6)) == \
            {t: tf for dd, t, tf in tv if dd == d}


def test_predicate_ids_sees_deletes(spark, tmp_path):
    """filterCache lookups subtract tombstones LIVE: delete() without
    refresh() must not serve deleted ids from the cached set."""
    src = synth_source(spark, 80)
    out = str(tmp_path / "fc")
    build_index(spark, src, out, n_buckets=2)
    idx = open_index(spark, out)
    keep = idx.predicate_ids("lang = 'python'")
    victim = next(iter(keep))
    idx.delete([victim])
    after = idx.predicate_ids("lang = 'python'")
    assert victim not in after and after == keep - {victim}


def test_filter_cache_lru_bounded(spark, tmp_path):
    """POST /select accepts arbitrary predicate strings — the
    filterCache must be LRU-bounded (entries AND bytes) like the term
    cache, and eviction must never change results."""
    src = synth_source(spark, 80)
    out = str(tmp_path / "fclru")
    build_index(spark, src, out, n_buckets=2)
    idx = open_index(spark, out)
    idx._filter_cache_max = 2
    preds = ["lang = 'python'", "path LIKE 'src/%'", "NOT deleted"]
    expect = [idx.predicate_ids(p) for p in preds]
    assert len(idx._filter_cache) == 2
    assert preds[0] not in idx._filter_cache  # oldest evicted
    # LRU touch: re-query preds[1], insert preds[0] → preds[2] evicted
    idx.predicate_ids(preds[1])
    assert idx.predicate_ids(preds[0]) == expect[0]
    assert set(idx._filter_cache) == {preds[0], preds[1]}
    # byte budget: a set larger than the budget is evicted immediately
    # but the caller still gets the correct result
    idx._filter_cache_max_bytes = 1
    got = idx.predicate_ids("doc_id >= 0")
    assert got and "doc_id >= 0" not in idx._filter_cache
    assert idx._filter_cache_bytes >= 0
    m = idx.metrics()["filter_cache"]
    assert m["max_bytes"] == 1 and m["entries"] == len(idx._filter_cache)


def test_doc_term_vector_sums_split_segments(spark, tmp_path):
    """A doc's (term, tf) split across base/delta segment rows (the
    at-least-once shape historical indexes can carry on disk) must be
    SUMMED by doc_term_vector — same defensive semantics as
    page_term_vectors, so /tv and more_like_this never see duplicate
    terms with partial tfs."""
    import shutil as sh
    from datetime import datetime

    from ftidx.schema import SOURCE_SCHEMA
    from ftidx.streaming import index_microbatch

    out = str(tmp_path / "tvsplit")
    build_index(spark, synth_source(spark, 60), out, n_buckets=2)
    row = [("orgt/projt", "src/t/tvdoc.py", "e" * 40, "python",
            "qqsplit qqsplit marker alpha", False,
            datetime(2024, 6, 1, 8, 0))]
    index_microbatch(spark.createDataFrame(row, SOURCE_SCHEMA), 0, out,
                     n_buckets=2)
    # simulate a historical duplicate delta segment on disk
    sh.copytree(f"{out}/deltas/batch=0", f"{out}/deltas/batch=1")
    sh.copytree(f"{out}/delta_doclen/batch=0", f"{out}/delta_doclen/batch=1")
    idx = open_index(spark, out)
    doc = idx.topk(["qqsplit"], k=1)[0][0]
    tv = dict(idx.doc_term_vector(doc, top_m=10))
    assert tv["qqsplit"] == 4  # 2 per segment row, summed — not two rows
    page = {t: tf for d, t, tf in idx.page_term_vectors([doc]) if d == doc}
    assert tv == {t: tf for t, tf in sorted(
        page.items(), key=lambda kv: (-kv[1], kv[0]))[:10]}


def test_metrics_single_generation(spark, tmp_path):
    """The ledger is append-only across generations: a forced rebuild
    must report ONE generation's rows (never the sum), and a resume
    that skipped every bucket (fresh manifest id, no new ledger rows)
    falls back to the completed generation instead of zeros."""
    src = synth_source(spark, 60)
    out = str(tmp_path / "gen")
    build_index(spark, src, out, n_buckets=2)
    first = open_index(spark, out).metrics()["last_build"]
    build_index(spark, src, out, n_buckets=2, resume=False)  # rebuild
    second = open_index(spark, out).metrics()["last_build"]
    assert second["buckets_done"] == first["buckets_done"] == 2
    assert second["postings_emitted"] == first["postings_emitted"]
    assert second["build_id"] != first["build_id"]
    build_index(spark, src, out, n_buckets=2)  # resume: all skipped
    third = open_index(spark, out).metrics()["last_build"]
    assert third["buckets_done"] == 2          # fallback, not zeros
    # the fallback picks A complete generation; with two equally
    # complete generations of identical params either id is valid
    # (uuid order is arbitrary), and the counts must match regardless
    assert third["build_id"] in (first["build_id"], second["build_id"])
    assert third["postings_emitted"] == second["postings_emitted"]


def test_highlight_fragments(spark, tmp_path):
    """Solr hl= analog: best-window selection, tag wrapping,
    longest-term-wins overlap, multi-fragment greediness."""
    from datetime import datetime

    from ftidx.index import build_index, open_index

    rows = [
        ("r", f"f{i}.py", "c1",  "python", text, False,
         datetime(2024, 1, 1))
        for i, text in enumerate([
            # doc 0: 'alpha' twice near each other + 'beta' far away
            "alpha one alpha two " + "x" * 200 + " beta end",
            # doc 1: window with BOTH terms beats window with more of one
            "alpha alpha alpha " + "y" * 150 + " alpha beta tail",
            # doc 2: no query terms at all
            "nothing relevant here",
        ])
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, deleted boolean, modified timestamp")
    out = str(tmp_path / "hlidx")
    build_index(spark, src, out, n_buckets=2, store_content=True)
    idx = open_index(spark, out)
    by_path = {r["path"]: r["doc_id"] for r in
               spark.read.parquet(out + "/docs").collect()}

    ids = [by_path["f0.py"], by_path["f1.py"], by_path["f2.py"]]
    hl = idx.highlight(ids, ["alpha", "beta"], frag_size=60, max_frags=1)
    # doc 0: the alpha-pair window (2 hits) wins over single-hit windows
    assert hl[ids[0]][0].count("<em>alpha</em>") == 2
    # doc 1: the (alpha, beta) window wins though an all-alpha window
    # has more total hits — distinct-terms ranks first
    assert "<em>beta</em>" in hl[ids[1]][0]
    # doc 2: no occurrences -> empty list
    assert hl[ids[2]] == []

    # multi-fragment: second fragment picks the next-best window
    hl2 = idx.highlight([ids[0]], ["alpha", "beta"],
                        frag_size=40, max_frags=2)
    joined = "".join(hl2[ids[0]])
    assert "<em>beta</em>" in joined and "<em>alpha</em>" in joined
    assert len(hl2[ids[0]]) == 2

    # longest-term-wins: 'alphabet' vs 'alpha' at the same offset
    src2 = spark.createDataFrame(
        [("r", "g.py", "c1", "python", "the alphabet song", False,
          datetime(2024, 1, 1))],
        "repo string, path string, commit string, lang string, "
        "content string, deleted boolean, modified timestamp")
    out2 = str(tmp_path / "hlidx2")
    build_index(spark, src2, out2, n_buckets=1, store_content=True)
    idx2 = open_index(spark, out2)
    did = spark.read.parquet(out2 + "/docs").collect()[0]["doc_id"]
    hl3 = idx2.highlight([did], ["alpha", "alphabet"])
    assert "<em>alphabet</em>" in hl3[did][0]
    assert "<em>alpha</em>s" not in hl3[did][0]

    import pytest as _pt
    with _pt.raises(ValueError):
        idx.highlight(ids, ["alpha"], frag_size=0)

    # an index built WITHOUT store_content refuses with a clear error
    out3 = str(tmp_path / "hlidx3")
    build_index(spark, src2, out3, n_buckets=1)
    idx3 = open_index(spark, out3)
    with _pt.raises(ValueError, match="store_content"):
        idx3.highlight([did], ["alpha"])


def test_query_result_cache(spark, built):
    """Solr queryResultCache analog: a repeat topk serves the cached
    page (identical tuples, hit counter moves), a different query
    shape misses, delete() invalidates so a tombstoned doc never
    serves from cache, and the LRU respects the entry bound."""
    out, _ = built
    idx = open_index(spark, out)
    assert idx.metrics()["result_cache"]["entries"] == 0
    a = idx.topk(["def", "return"], k=5)
    h0 = idx._result_hits
    b = idx.topk(["def", "return"], k=5)
    assert b == a and idx._result_hits == h0 + 1
    # a different shape (same terms, different k / mode) must miss
    idx.topk(["def", "return"], k=3)
    idx.topk(["def", "return"], k=5, mode="and")
    m = idx.metrics()["result_cache"]
    assert m["entries"] == 3 and m["hits"] >= 1 and m["bytes"] > 0

    # delete() invalidation: the cached page holds the current top-1;
    # after tombstoning it the SAME query must not serve it
    top1 = a[0][0]
    idx.delete([top1])
    assert idx.metrics()["result_cache"]["entries"] == 0
    c = idx.topk(["def", "return"], k=5)
    assert top1 not in [d for d, _ in c]

    # entry-bound LRU eviction
    idx._result_cache.clear()
    idx._result_cache_bytes = 0
    old_max = idx._result_cache_max
    idx._result_cache_max = 4
    try:
        for i in range(8):
            idx.topk(["def"], k=i + 1)
        assert len(idx._result_cache) == 4
    finally:
        idx._result_cache_max = old_max
    # refresh drops everything
    idx.refresh()
    assert idx.metrics()["result_cache"]["entries"] == 0


def test_spellcheck_wordbreak(spark, tmp_path):
    """WordBreakSolrSpellChecker analog: unknown concatenations break
    into vocabulary halves (min-df DESC, split ASC rank), adjacent
    known terms combine when their join is indexed, known terms never
    break, and the min-part-length guard holds."""
    from datetime import datetime, timezone

    rows = [
        ("r", f"f{i}.py", "c", "python", text, False,
         datetime(2024, 1, 1, tzinfo=timezone.utc))
        for i, text in enumerate([
            "hello world again hello world",
            "database stuff here",
            "data base systems",
            "world peace data",
        ])
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, deleted boolean, modified timestamp")
    out = str(tmp_path / "wb")
    build_index(spark, src, out, n_buckets=2)
    idx = open_index(spark, out)

    res = idx.spellcheck_wordbreak(["helloworld", "data", "base"])
    assert res["breaks"] == [("helloworld", "hello", "world",
                              idx._df_total(["hello"], "code.content"),
                              idx._df_total(["world"], "code.content"))]
    assert res["combines"] == [("data", "base", "database",
                                idx._df_total(["database"], "code.content"))]
    # a known term never breaks, even if splittable
    assert idx.spellcheck_wordbreak(["database"])["breaks"] == []
    # min_part_len guard: 1-char halves are not candidates
    assert idx.spellcheck_wordbreak(["aworld"],
                                    min_part_len=2)["breaks"] == []
    # nothing matches -> both empty
    none = idx.spellcheck_wordbreak(["zzzz", "qqqq"])
    assert none == {"breaks": [], "combines": []}


def test_spellcheck_wordbreak_sharded(spark, tmp_path):
    """2-shard wordbreak equals monolithic: candidate set is a pure
    function of the query, dfs sum exactly across disjoint shards."""
    from ftidx.maintenance import split_index
    from ftidx.shards import FtShards
    from ftidx.synth import synth_source

    out = str(tmp_path / "p")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4)
    kids = [str(tmp_path / "s0"), str(tmp_path / "s1")]
    split_index(spark, out, kids)
    mono = open_index(spark, out)
    shards = FtShards.open(spark, kids)
    probe = ["defreturn", "value", "data", "zzznope"]
    assert shards.spellcheck_wordbreak(probe) == \
        mono.spellcheck_wordbreak(probe)


def test_fat_corpus_thin_terms_stay_on_driver_kernel(spark, built, oracle):
    """df-probe routing: above the doc budget, a query whose TOTAL df
    fits the budget collects its (small) postings driver-side — same
    cold latency as the probe, warms the term cache for every later
    query sharing the term — while fat terms still score in the
    executors.  Parity with the oracle on both routes."""
    idx = open_index(spark, built[0])
    # test_delete_tombstones persisted a tombstone into the module-
    # scoped index dir; drop it so oracle parity sees the full corpus
    idx._tombstones = frozenset()
    idx._driver_score_max_docs = 150  # rareterm df≈95 fits; 'def' ≈330 doesn't
    got = idx.topk(["rareterm00001"], k=5)
    want = oracle.topk(["rareterm00001"], 5)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert idx._cache_misses >= 1  # driver kernel fetched + cached it
    assert ("code.content", "rareterm00001") in idx._term_cache
    # a fat term still routes to the executors: term cache untouched
    misses0 = idx._cache_misses
    got2 = idx.topk(["def"], k=5)
    want2 = oracle.topk(["def"], 5)
    assert [d for d, _ in got2] == [d for d, _ in want2]
    assert idx._cache_misses == misses0
    assert ("code.content", "def") not in idx._term_cache
    # mixed fat+thin: the SUM busts the budget → distributed, parity holds
    got3 = idx.topk(["def", "rareterm00002"], k=8)
    want3 = oracle.topk(["def", "rareterm00002"], 8)
    assert [d for d, _ in got3] == [d for d, _ in want3]
    assert idx._cache_misses == misses0


def test_concurrent_topk_threads_agree(spark, built):
    """8 threads hammer one handle with the same mixed query set:
    results identical across threads (no torn cache state), cache
    byte accounting exact afterwards (the LRU bookkeeping ran under
    _cache_lock), and no thread raised."""
    import threading

    from ftidx.index import _entry_cost

    idx = open_index(spark, built[0])
    results: dict[int, list] = {}
    errs: list[Exception] = []

    def worker(i):
        try:
            out = []
            for terms, k, field in QUERIES[:5]:
                out.append(idx.topk(terms, k=k, field=field))
            results[i] = out
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    base = results[0]
    assert all(r == base for r in results.values())
    assert idx._cache_bytes == sum(
        _entry_cost(v) for v in idx._term_cache.values())


def test_termstats_probe_and_staleness(spark, tmp_path, monkeypatch):
    """The df probe reads the skinny termstats table written at build
    (values == the postings aggregate), and a stale fingerprint (a
    maintenance rewrite changed postings without write_termstats)
    makes refresh() fall back to the postings aggregate — identical
    dfs, so routing never changes semantics."""
    from pathlib import Path

    import ftidx.index

    monkeypatch.setattr(ftidx.index, "TERMSTATS_MIN_DOCS", 0)  # tiny fixture
    out = str(tmp_path / "idx")
    src = synth_source(spark, 300, partitions=3)
    build_index(spark, src, out, n_buckets=4)
    idx = open_index(spark, out)
    assert idx._termstats is not None
    want = {r["term"]: int(r["total_df"]) for r in
            idx._postings.filter(F.col("field") == "code.content")
            .filter(F.col("term").isin(["def", "rareterm00001"]))
            .groupBy("term").agg(F.sum("df").alias("total_df")).collect()}
    assert idx._df_total(["def"], "code.content") == want["def"]
    assert idx._df_total(["rareterm00001"], "code.content") \
        == want["rareterm00001"]
    assert idx._df_total(["zzz_nothing"], "code.content") == 0
    got_def = want["def"]
    # corrupted fingerprint → handle ignores termstats, probe falls
    # back to the postings aggregate with the same answers
    (Path(out) / "termstats" / "_postings_fingerprint").write_text("stale")
    idx.refresh()
    assert idx._termstats is None
    assert idx._df_total(["def"], "code.content") == got_def


def test_open_index_launches_no_spark_job(spark, spark_jobs, tmp_path,
                                          monkeypatch):
    """Opening a handle reads the driver-sized tables (stats,
    tombstones) with pyarrow and hands every Spark reader its known
    schema: an index with tombstones, positions and termstats and no
    deltas opens without one Spark job, and serves what the handle that
    wrote the tombstones serves."""
    import ftidx.index
    from ftidx.index import _POSTINGS_COLS

    monkeypatch.setattr(ftidx.index, "TERMSTATS_MIN_DOCS", 0)  # tiny fixture
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                positions=True)
    writer = open_index(spark, out)
    victims = [d for d, _ in writer.topk(["def"], k=2)]
    writer.delete(victims[:1])
    writer.delete(victims[1:])
    idx, jobs = spark_jobs(lambda: open_index(spark, out))
    assert jobs == []
    assert idx._tombstones == frozenset(victims)
    assert idx.stats == writer.stats
    assert idx._termstats is not None and idx._positions is not None
    assert set(_POSTINGS_COLS) <= set(idx._postings.columns)
    assert idx._df_total(["def"], "code.content") == \
        writer._df_total(["def"], "code.content")
    assert idx.topk(["def", "value"], k=8) == writer.topk(["def", "value"], k=8)
    assert idx.phrase_topk(["def", "value"], k=5) == \
        writer.phrase_topk(["def", "value"], k=5)

    # with streamed deltas the collection stats span base + delta doc
    # lengths: the one Spark aggregate that computes them is all an
    # open pays, no reader infers its schema
    from ftidx.schema import read_table
    from ftidx.streaming import index_microbatch

    index_microbatch(synth_source(spark, 300).filter(F.col("path") > "m"), 0,
                     out, n_buckets=4)

    def stats_aggregate():
        dl = read_table(spark, out, "delta_doclen").select("doc_id", "field", "len")
        dl = dl.unionByName(read_table(spark, out, "doclen")
                            .select("doc_id", "field", "len"))
        return (dl.dropDuplicates(["doc_id", "field"]).groupBy("field")
                .agg(F.count(F.lit(1)), F.sum("len")).collect())

    _, agg_jobs = spark_jobs(stats_aggregate)
    streamed, jobs = spark_jobs(lambda: open_index(spark, out))
    assert streamed._delta_postings is not None
    assert len(jobs) == len(agg_jobs) > 0


def test_edismax_job_count(spark, spark_jobs, built):
    """A two-field edismax with mm and bq is one df probe across both
    fields and the bq term (cold), then one per-bucket plan pass and its
    global cut; a warm df cache leaves the pass alone."""
    idx = open_index(spark, built[0])
    kw = dict(qf={"code.content": 1.0, "code.ident.split": 2.0}, tie=0.3,
              mm=2, bq={"alpha": 0.7}, k=10)
    cold, cold_jobs = spark_jobs(lambda: idx.edismax(["def", "value"], **kw).collect())
    warm, warm_jobs = spark_jobs(lambda: idx.edismax(["def", "value"], **kw).collect())
    assert cold and cold == warm
    assert (len(cold_jobs), len(warm_jobs)) == (4, 2)


# Spark jobs of the docs-table surfaces on the fixture, warm. While
# their readers inferred the docs and doclen schemas (one job per read),
# topk_where and edismax with bf= ran 4, fetch_docs and get_doc 5.
DOCS_SURFACE_MAX_JOBS = {"topk_where": 3, "edismax_bf": 3,
                         "fetch_docs": 2, "get_doc": 2}


def test_docs_surfaces_job_count(spark, spark_jobs, built):
    """Every docs and doclen reader is handed its schema, and a page's
    buckets resolve in one doclen scan: pinned as upper bounds on the
    jobs of a warm call (the first call fills the df cache)."""
    idx = open_index(spark, built[0])
    page = [d for d, _ in idx.topk(["def"], k=10)]
    calls = {
        "topk_where": lambda: idx.topk_where(
            ["def"], "lang = 'python'", k=10).collect(),
        "edismax_bf": lambda: idx.edismax(
            ["def", "value"], bf="length(path) * 0.01", k=10).collect(),
        "fetch_docs": lambda: idx.fetch_docs(page),
        "get_doc": lambda: idx.get_doc(page[0]),
    }
    jobs = {}
    for name, call in calls.items():
        first, _ = spark_jobs(call)
        again, ids = spark_jobs(call)
        assert again and again == first, name
        jobs[name] = len(ids)
    assert all(0 < jobs[n] <= cap for n, cap in DOCS_SURFACE_MAX_JOBS.items()), jobs


def test_delete_launches_no_spark_job(spark, spark_jobs, tmp_path):
    """delete() appends its tombstone file driver-side with pyarrow:
    no Spark job. refresh() and compact's recursive Spark reader both
    read the file, and compact removes the deleted docs."""
    from ftidx.maintenance import compact

    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 60), out, n_buckets=2)
    idx = open_index(spark, out)
    victims = [d for d, _ in idx.topk(["def"], k=2)]
    _, jobs = spark_jobs(lambda: (idx.delete(victims[:1]),
                                  idx.delete(victims[1:])))
    assert jobs == []
    assert idx._tombstones == frozenset(victims)
    assert open_index(spark, out)._tombstones == frozenset(victims)
    assert not set(victims) & {d for d, _ in idx.topk(["def"], k=1000)}
    assert compact(spark, out)["docs_removed"] == 2
    assert not (tmp_path / "idx" / "tombstones").exists()
    reopened = open_index(spark, out)
    assert reopened._tombstones == frozenset()
    assert not set(victims) & {d for d, _ in reopened.topk(["def"], k=1000)}


def _table_rows(path, table) -> list:
    """A bucket table's rows (partition value included), sorted."""
    import pyarrow.parquet as pq

    return sorted((tuple(sorted(r.items())) for r in
                   pq.read_table(f"{path}/{table}").to_pylist()), key=repr)


def test_build_resumes_after_kill_between_postings_and_doclen(
        spark, tmp_path, monkeypatch):
    """A build killed after its postings write and before the doclen
    and docs writes (the ledger has no "done" row yet) resumes to
    tables row-for-row equal to a clean build's."""
    import ftidx.index

    src = synth_source(spark, 90).cache()
    clean, run = str(tmp_path / "clean"), str(tmp_path / "run")
    build_index(spark, src, clean, n_buckets=2, store_content=True)

    write = ftidx.index._write_bucket_table

    def killed(df, table):
        if table.name in ("doclen", "docs"):
            raise RuntimeError(f"killed before the {table.name} write")
        write(df, table)

    with monkeypatch.context() as mp:
        mp.setattr(ftidx.index, "_write_bucket_table", killed)
        with pytest.raises(RuntimeError, match="killed before"):
            build_index(spark, src, run, n_buckets=2, store_content=True)
    assert (tmp_path / "run" / "postings").exists()
    assert not (tmp_path / "run" / "doclen").exists()
    assert build_index(spark, src, run, n_buckets=2, store_content=True)[
        "built"] == [0, 1]
    for table in ("postings", "doclen", "docs", "stored", "stats"):
        assert _table_rows(run, table) == _table_rows(clean, table), table
    assert open_index(spark, run).topk(["def", "value"], k=10) == \
        open_index(spark, clean).topk(["def", "value"], k=10)


def test_moved_surfaces_route_beyond_doc_budget(spark, built):
    """Beyond the doc budget, the surfaces that once collected whole
    postings on the driver — LTR (every feature), rerank, synonyms and
    stems, facet.query, explain, pinned docs, spellcheck, more-like-this
    and the FtShards merges — run through the routed plan executors:
    an unrouted handle's answers, bit for bit, with no driver postings
    collect, six concurrent ltr_rerank threads included."""
    import threading

    from ftidx.ltr import LinearModel
    from ftidx.shards import FtShards

    # bm25@ names a field the terms are fat in, so that plan routes too
    # (a plan whose terms a field lacks has df 0 and stays on the driver)
    model = LinearModel({"orig": 1.0, "matched": 0.5, "dl": -0.01,
                         "bm25@code.content": 0.3})
    dv = ["def", "value"]
    idx = open_index(spark, built[0])
    idx._driver_score_max_docs = 1  # every plan routes to the buckets
    ref = open_index(spark, built[0])
    top = ref.topk(dv, k=1)[0][0]
    calls = {
        "ltr_rerank": lambda h: h.ltr_rerank(dv, model, k=8),
        "topk_reranked": lambda h: h.topk_reranked(
            dv, ["alpha", "return"], k=8, rerank_docs=12, weight=0.7),
        "topk_synonyms": lambda h: h.topk_synonyms(
            {"def": ["return"], "value": ["values", "data"]}, k=8),
        "stem_topk": lambda h: h.stem_topk(["value", "words"], k=8),
        "facet_queries": lambda h: h.facet_queries(
            {"a": ["def"], "b": ["alpha", "omega"]}),
        "explain": lambda h: h.explain(dv, top),
        "topk_elevated": lambda h: h.topk_elevated(dv, [top, 5], k=6),
        "spellcheck": lambda h: h.spellcheck(["def", "valeu"]),
        "more_like_this": lambda h: h.more_like_this(top, k=8),
        "shards.topk": lambda h: FtShards([h]).topk(dv, k=8),
        "shards.count": lambda h: FtShards([h]).count(["def", "alpha"]),
        "shards.stem_topk": lambda h: FtShards([h]).stem_topk(["value", "words"], k=8),
        "shards.ltr_rerank": lambda h: FtShards([h]).ltr_rerank(dv, model, k=8),
    }
    for name, call in calls.items():
        got = call(idx)
        assert got and got == call(ref), name
    assert idx._cache_misses == 0  # no driver postings collect happened
    outs, errs = {}, []

    def worker(i):
        try:
            outs[i] = idx.ltr_rerank(["alpha", "omega"], model, k=6)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    want = ref.ltr_rerank(["alpha", "omega"], model, k=6)
    assert want and all(o == want for o in outs.values())
    assert idx._cache_misses == 0


# Spark jobs of the surfaces that score through the plan executors
# instead of collecting whole postings on the driver, on the fixture,
# (cold handle, warm repeat). The caps are the counts measured before
# the move; the one rise is LTR's dl feature, one doclen read per call.
MOVED_SURFACE_MAX_JOBS = {
    "topk_synonyms": (2, 0), "stem_topk": (6, 4), "topk_reranked": (2, 0),
    "ltr_rerank": (2, 0), "ltr_rerank_dl": (2, 1), "facet_queries": (2, 0),
    "explain": (1, 0), "topk_elevated": (1, 0), "spellcheck": (4, 2),
    "more_like_this": (4, 3), "shards.topk": (1, 0), "shards.count": (1, 0),
    "shards.stem_topk": (9, 8), "shards.ltr_rerank": (2, 0),
    "shards.ltr_rerank_dl": (2, 1), "shards.spellcheck": (6, 4),
}


def test_moved_surfaces_job_count(spark, spark_jobs, built):
    from ftidx.ltr import LinearModel
    from ftidx.shards import FtShards

    dv = ["def", "value"]
    plain = LinearModel({"orig": 1.0, "matched": 0.5,
                         "bm25@code.ident.split": 0.3})
    with_dl = LinearModel({"orig": 1.0, "dl": -0.01})
    top = open_index(spark, built[0]).topk(dv, k=1)[0][0]
    calls = {
        "topk_synonyms": lambda h: h.topk_synonyms(
            {"def": ["return"], "value": ["values", "data"]}, k=8),
        "stem_topk": lambda h: h.stem_topk(["value", "words"], k=8),
        "topk_reranked": lambda h: h.topk_reranked(dv, ["alpha", "return"], k=8),
        "ltr_rerank": lambda h: h.ltr_rerank(dv, plain, k=8),
        "ltr_rerank_dl": lambda h: h.ltr_rerank(dv, with_dl, k=8),
        "facet_queries": lambda h: h.facet_queries(
            {"a": ["def"], "b": ["alpha", "omega"]}),
        "explain": lambda h: h.explain(dv, top),
        "topk_elevated": lambda h: h.topk_elevated(dv, [top, 5], k=6),
        "spellcheck": lambda h: h.spellcheck(["def", "valeu"]),
        "more_like_this": lambda h: h.more_like_this(top, k=8),
        "shards.topk": lambda h: FtShards([h]).topk(dv, k=8),
        "shards.count": lambda h: FtShards([h]).count(["def", "alpha"]),
        "shards.stem_topk": lambda h: FtShards([h]).stem_topk(["value", "words"], k=8),
        "shards.ltr_rerank": lambda h: FtShards([h]).ltr_rerank(dv, plain, k=8),
        "shards.ltr_rerank_dl": lambda h: FtShards([h]).ltr_rerank(dv, with_dl, k=8),
        "shards.spellcheck": lambda h: FtShards([h]).spellcheck(["def", "valeu"]),
    }
    jobs = {}
    for name, call in calls.items():
        idx = open_index(spark, built[0])
        cold, cold_jobs = spark_jobs(lambda: call(idx))
        warm, warm_jobs = spark_jobs(lambda: call(idx))
        assert cold and cold == warm, name
        jobs[name] = (len(cold_jobs), len(warm_jobs))
    assert all(c <= MOVED_SURFACE_MAX_JOBS[n][0] and w <= MOVED_SURFACE_MAX_JOBS[n][1]
               for n, (c, w) in jobs.items()), jobs


def test_pinned_doc_reads_its_organic_score(spark, built):
    """A pinned doc's score is its organic topk score exactly: the pins
    score in the organic plan filtered to their ids."""
    idx = open_index(spark, built[0])
    plain = idx.topk(["def", "value"], k=10)
    got = idx.topk_elevated(["def", "value"], [plain[3][0], plain[0][0]], k=4)
    assert [(h["doc_id"], h["score"]) for h in got[:2]] == [plain[3], plain[0]]


def test_phrase_boost_scales_the_phrase_terms(spark, positioned):
    """'"a b"^w' scores w × (BM25(a) + BM25(b)), as a term boost scales
    its term's BM25."""
    idx = open_index(spark, positioned)
    plain = idx.query_string('"def value" return', k=20)
    boosted = idx.query_string('"def value"^2 return', k=20)
    assert {d for d, _ in plain} == {d for d, _ in boosted}
    for d, s in boosted:
        parts = {t["term"]: t["contrib"] for t in idx.explain(
            ["def", "value", "return"], d)["terms"]}
        want = 2 * (parts["def"] + parts["value"]) + parts.get("return", 0.0)
        assert s == pytest.approx(want, abs=1e-5), d
