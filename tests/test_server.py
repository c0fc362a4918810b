"""Serving daemon: health + query endpoints over a warm FtIndex
(S31 analog — the reference is probed over HTTP for liveness while
serving; here the same surface also answers top-k queries)."""

from __future__ import annotations

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from ftidx.index import build_index, open_index
from ftidx.server import FtServer
from ftidx.synth import synth_source


def _get(url):
    with urllib.request.urlopen(url, timeout=10) as r:
        return r.status, json.loads(r.read())


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("srv") / "idx")
    build_index(spark, synth_source(spark, 200), out, n_buckets=4,
                hot_df_threshold=50, positions=True, store_content=True)
    idx = open_index(spark, out)
    srv = FtServer(idx).start()
    yield srv, idx
    srv.stop()


def test_health(served):
    srv, idx = served
    status, body = _get(f"http://{srv.host}:{srv.port}/health")
    assert status == 200
    assert body["status"] == "ok"
    assert body["build_id"] == idx.manifest["build_id"]
    assert body["fields"]["code.content"] == idx.stats["code.content"][0]


def test_search_matches_handle(served):
    srv, idx = served
    status, body = _get(
        f"http://{srv.host}:{srv.port}/search?q=def+return&k=5")
    assert status == 200
    expect = idx.topk(["def", "return"], k=5)
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == expect


def test_phrase_endpoint(served):
    srv, idx = served
    status, body = _get(f"http://{srv.host}:{srv.port}/phrase?q=def+main&k=5")
    assert status == 200
    expect = idx.phrase_topk(["def", "main"], k=5)
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == expect


def test_stats_and_errors(served):
    srv, _ = served
    status, body = _get(f"http://{srv.host}:{srv.port}/stats")
    assert status == 200 and "code.content" in body

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"http://{srv.host}:{srv.port}/search")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"http://{srv.host}:{srv.port}/nope")
    assert e.value.code == 404


def test_server_fault_is_500_not_400(served):
    """A genuine server-side fault must register on 5xx alerting, not
    masquerade as a client error; malformed user SQL stays 400."""
    srv, idx = served
    real = idx.topk

    def boom(*a, **k):
        raise RuntimeError("simulated index corruption")

    idx.topk = boom
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"http://{srv.host}:{srv.port}/search?q=def&k=3")
        assert e.value.code == 500
        assert "simulated index corruption" in json.loads(
            e.value.read())["error"]
    finally:
        idx.topk = real
    # user-supplied SQL error is still the caller's fault
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"http://{srv.host}:{srv.port}/search?q=def&k=3"
             "&sort=no_such_column%20asc")
    assert e.value.code == 400


def test_select_rejects_negative_paging(served):
    srv, _ = served
    req = urllib.request.Request(
        f"http://{srv.host}:{srv.port}/select",
        data=json.dumps({"query": "def", "limit": -1}).encode(),
        headers={"Content-Type": "application/json"})
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=10)
    assert e.value.code == 400
    req = urllib.request.Request(
        f"http://{srv.host}:{srv.port}/select",
        data=json.dumps({"query": "def", "offset": -5}).encode(),
        headers={"Content-Type": "application/json"})
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=10)
    assert e.value.code == 400


def test_labeled_spec_strips_labels():
    from ftidx.server import _parse_labeled_spec

    assert _parse_labeled_spec(" a :x y") == {"a": ["x", "y"]}
    with pytest.raises(ValueError, match="duplicate"):
        _parse_labeled_spec("a:x; a :y")


def test_refresh_after_delete(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    _, body = _get(f"{base}/search?q=def&k=1")
    victim = body["hits"][0]["doc_id"]
    idx.delete([victim])  # handle-side delete is visible immediately
    _, body2 = _get(f"{base}/search?q=def&k=1")
    assert body2["hits"][0]["doc_id"] != victim

    req = urllib.request.Request(f"{base}/refresh", method="POST")
    with urllib.request.urlopen(req, timeout=30) as r:
        assert json.loads(r.read())["status"] == "refreshed"
    _, body3 = _get(f"{base}/search?q=def&k=1")
    assert body3["hits"][0]["doc_id"] != victim


def test_boolean_search_endpoint(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    _, body = _get(f"{base}/search?q=def+alpha&mode=and&k=5")
    expect = idx.topk(["def", "alpha"], k=5, mode="and")
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == expect

    _, body = _get(f"{base}/search?q=def+-alpha&k=5")
    expect = idx.topk(["def"], k=5, exclude=["alpha"])
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == expect


def test_facet_endpoint(served):
    srv, idx = served
    _, body = _get(f"http://{srv.host}:{srv.port}/facet?q=def&facet=lang")
    expect = [(r["value"], r["n_docs"])
              for r in idx.facet_counts(["def"], facet="lang").collect()]
    assert [(f["value"], f["n_docs"]) for f in body["facets"]] == expect
    assert body["facets"]


def test_fuzzy_and_qf_endpoints(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    _, body = _get(f"{base}/fuzzy?term=deff")
    assert body["terms"] and body["terms"][0]["term"] == "def"

    qf = "code.content^1,code.ident.split^2"
    _, body = _get(f"{base}/search?q=def+alpha&qf={qf}&k=5")
    expect = idx.topk_fields(["def", "alpha"],
                             {"code.content": 1.0, "code.ident.split": 2.0}, k=5)
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == expect


def test_suggest_endpoint(served):
    srv, idx = served
    _, body = _get(f"http://{srv.host}:{srv.port}/suggest?prefix=re")
    expect = idx.suggest_terms("re")
    assert [(t["term"], t["df"]) for t in body["terms"]] == expect
    assert body["terms"]


def test_slop_group_sort_endpoints(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    # proximity: slop widens the exact-phrase result set
    status, near = _get(f"{base}/phrase?q=def+main&k=50&slop=8")
    assert status == 200
    expect = idx.near_topk(["def", "main"], window=8, k=50)
    assert [(h["doc_id"], h["score"]) for h in near["hits"]] == expect
    _, exact = _get(f"{base}/phrase?q=def+main&k=50")
    assert {h["doc_id"] for h in exact["hits"]} <= \
        {h["doc_id"] for h in near["hits"]}

    # field collapse
    status, grp = _get(f"{base}/search?q=def&group=lang&k=5")
    assert status == 200
    expect_g = idx.topk_grouped(["def"], group_col="lang", k_groups=5).collect()
    assert [(g["value"], g["doc_id"]) for g in grp["groups"]] == \
        [(r["group_value"], r["doc_id"]) for r in expect_g]

    # metadata sort + paging
    status, page = _get(f"{base}/search?q=def&sort=path+asc&start=3&k=4")
    assert status == 200
    expect_s = idx.search_sorted(["def"], "path", start=3, rows=4).collect()
    assert [p["doc_id"] for p in page["docs"]] == \
        [r["doc_id"] for r in expect_s]

    # cursorMark keyset paging: two cursor pages == first 8 offset rows
    status, c1 = _get(f"{base}/search?q=def&sort=path+asc&cursor=*&k=4")
    assert status == 200 and c1["next_cursor"]
    from urllib.parse import quote
    status, c2 = _get(f"{base}/search?q=def&sort=path+asc"
                      f"&cursor={quote(c1['next_cursor'])}&k=4")
    assert status == 200
    expect_c = idx.search_sorted(["def"], "path", start=0, rows=8).collect()
    assert [p["doc_id"] for p in c1["docs"] + c2["docs"]] == \
        [r["doc_id"] for r in expect_c]


def test_edismax_endpoint(served):
    """The composed edismax request over live HTTP equals the library
    call; missing q is a 400."""
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, out = _get(
        f"{base}/edismax?q=def+value&qf=code.content^1.0,code.ident.split^2.0"
        f"&tie=0.3&mm=2&bq=alpha^0.7&bf=0.01+*+length(path)"
        f"&boost=1.0+%2B+0.001+*+length(path)&k=5")
    assert status == 200
    want = idx.edismax(["def", "value"],
                       qf={"code.content": 1.0, "code.ident.split": 2.0},
                       tie=0.3, mm=2, bq={"alpha": 0.7},
                       bf="0.01 * length(path)",
                       boost="1.0 + 0.001 * length(path)", k=5).collect()
    assert [(d["doc_id"], d["score"], d["final"]) for d in out["docs"]] == \
        [(r["doc_id"], r["score"], r["final"]) for r in want]
    assert len(out["docs"]) == 5
    import urllib.error
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base}/edismax?k=5")
    assert e.value.code == 400


def test_expand_param(served):
    """collapse + expand over live HTTP equals the library call:
    collapsed page in rank order, expansion keyed by group."""
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, out = _get(f"{base}/search?q=def&group=lang&expand=true"
                       f"&expand.rows=2&k=4")
    assert status == 200
    rows = idx.expand_topk(["def"], group_col="lang", k=4,
                           expand_rows=2).collect()
    hits = sorted((r for r in rows if r["section"] == "hit"),
                  key=lambda r: r["hit_rank"])
    assert [(d["group"], d["doc_id"], d["rank"]) for d in out["docs"]] == \
        [(r["group_value"], r["doc_id"], r["hit_rank"]) for r in hits]
    for r in rows:
        if r["section"] == "expand":
            sect = out["expanded"][r["group_value"]]
            assert {"doc_id": r["doc_id"], "score": r["score"],
                    "rank": r["member_rank"]} in sect
    assert set(out["expanded"]) <= {d["group"] for d in out["docs"]}


def test_facet_range_endpoint(served):
    srv, idx = served
    status, body = _get(
        f"http://{srv.host}:{srv.port}/facet_range"
        f"?q=def&col=bucket&start=0&end=4&gap=1")
    assert status == 200
    expect = idx.facet_range(["def"], facet="bucket", start=0, end=4,
                             gap=1).collect()
    assert [(b["start"], b["n_docs"]) for b in body["buckets"]] == \
        [(r["bucket_start"], r["n_docs"]) for r in expect]
    assert body["buckets"]  # the corpus populates low buckets


def test_highlight_job_count(served, spark_jobs):
    """A page's highlight resolves its buckets in one doclen scan and
    reads the stored table with its schema: 2 Spark jobs. It ran 5 while
    both readers inferred their schemas and the resolver deduplicated
    with a shuffle."""
    _, idx = served
    page = [d for d, _ in idx.topk(["def"], k=10)]
    frags, jobs = spark_jobs(lambda: idx.highlight(page, ["def"]))
    assert any(frags.values())
    assert 0 < len(jobs) <= 2


def test_facet_range_needs_col(served):
    """/facet_range has no default column: without ``col`` it is a
    client error, not a query over a column the docs table lacks."""
    srv, _ = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"http://{srv.host}:{srv.port}/facet_range?q=def&gap=1")
    assert e.value.code == 400
    assert json.loads(e.value.read())["error"] == "missing col"


def test_pivot_and_facet_stats_endpoints(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    _, body = _get(f"{base}/pivot?q=def&pivot=lang,repo")
    expect = [(r["value1"], r["value2"], r["n_docs"]) for r in
              idx.facet_pivot(["def"], fields=("lang", "repo")).collect()]
    assert [(p["value1"], p["value2"], p["n_docs"])
            for p in body["pivot"]] == expect and body["pivot"]

    _, body = _get(f"{base}/facet_stats?q=def&facet=lang")
    expect = [(r["value"], r["n_docs"], r["sum_len"]) for r in
              idx.facet_metric_stats(["def"], facet="lang").collect()]
    assert [(s["value"], s["n_docs"], s["sum_len"])
            for s in body["stats"]] == expect and body["stats"]


def test_spellcheck_and_get_endpoints(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    _, body = _get(f"{base}/spellcheck?q=def+deff")
    assert body["collation"] == "def def" and body["changed"]
    by_term = {t["term"]: t for t in body["terms"]}
    assert by_term["def"]["dist"] == 0 and by_term["def"]["df"] > 0
    assert by_term["deff"]["correction"] == "def" and by_term["deff"]["dist"] == 1

    # wordbreak=true adds split/join suggestions
    _, body = _get(f"{base}/spellcheck?q=defreturn+def+return&wordbreak=true")
    wb = idx.spellcheck_wordbreak(["defreturn", "def", "return"])
    assert [b["suggestion"] for b in body["breaks"]] == \
        [f"{l} {r}" for _, l, r, _, _ in wb["breaks"]]
    assert body["breaks"][0]["suggestion"] == "def return"
    assert [c["suggestion"] for c in body["combines"]] == \
        [j for _, _, j, _ in wb["combines"]]
    _, body = _get(f"{base}/spellcheck?q=defreturn")
    assert "breaks" not in body

    some_id = idx.topk(["def"], k=1)[0][0]
    _, body = _get(f"{base}/get?id={some_id}")
    assert body["doc"]["doc_id"] == some_id and body["doc"]["path"]
    import urllib.error
    try:
        code, _body = _get(f"{base}/get?id=999999999999")
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 404


def test_explain_endpoint(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, body = _get(f"{base}/search?q=def+spark&k=1")
    assert status == 200 and body["hits"]
    top = body["hits"][0]
    status, ex = _get(f"{base}/explain?q=def+spark&id={top['doc_id']}")
    assert status == 200
    assert ex["doc_id"] == top["doc_id"]
    assert abs(ex["score"] - top["score"]) < 1e-4
    assert {t["term"] for t in ex["terms"]} <= {"def", "spark"}
    code = 200
    try:
        _get(f"{base}/explain?q=def")
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 400


def test_boost_function_param(served):
    srv, _ = served
    base = f"http://{srv.host}:{srv.port}"
    url = f"{base}/search?q=def+spark&k=5&bf=0.001%20*%20length(path)"
    status, body = _get(url)
    assert status == 200 and body["docs"]
    for d in body["docs"]:
        assert abs(d["final"] - (d["score"] + d["boost"])) < 1e-12
    finals = [d["final"] for d in body["docs"]]
    assert finals == sorted(finals, reverse=True)
    # edismax boost= → multiplicative
    url = f"{base}/search?q=def+spark&k=5&boost=100/(100%2Blength(path))"
    status, body = _get(url)
    assert status == 200 and body["docs"]
    for d in body["docs"]:
        assert abs(d["final"] - d["score"] * d["boost"]) < 1e-12
    finals = [d["final"] for d in body["docs"]]
    assert finals == sorted(finals, reverse=True)


def test_boost_solr_function_syntax(served):
    """bf= accepts actual Solr FUNCTION syntax (no infix operators):
    recip(ms(NOW,modified),...) with a pinned now= routes through
    topk_funcquery; raw-SQL bf= (covered above) still falls through to
    the SQL slot; NOW without now= is the caller's fault → 400."""
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    now_ms = 1_700_000_000_000
    url = (f"{base}/search?q=def+spark&k=5&now={now_ms}"
           f"&bf=recip(ms(NOW,modified),3.16e-13,1,1)")
    status, body = _get(url)
    assert status == 200 and body["docs"]
    for d in body["docs"]:
        assert abs(d["final"] - (d["score"] + d["boost"])) < 1e-12
        assert 0.0 < d["boost"] < 2.0
    want = idx.topk_funcquery(
        ["def", "spark"], "recip(ms(NOW,modified),3.16e-13,1,1)",
        k=5, now_ms=now_ms).collect()
    assert [d["doc_id"] for d in body["docs"]] == \
        [r["doc_id"] for r in want]
    # NOW without a pinned clock: deterministic refusal, 400
    code = 200
    try:
        _get(f"{base}/search?q=def&k=5&bf=recip(ms(NOW,modified),1,1,1)")
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 400


def test_terms_endpoint(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, body = _get(f"{base}/terms?prefix=de&mincount=1&limit=5")
    assert status == 200
    expect = idx.terms_enum(prefix="de", mincount=1, limit=5)
    assert [(t["term"], t["df"]) for t in body["terms"]] == expect


def test_elevate_param(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    plain = idx.topk(["def", "return"], k=5)
    pin = plain[-1][0]
    status, body = _get(f"{base}/search?q=def+return&k=5&elevate={pin}")
    assert status == 200
    docs = body["docs"]
    assert docs[0]["doc_id"] == pin and docs[0]["elevated"]
    assert [d["doc_id"] for d in docs[1:]] == \
        [d for d, _ in plain if d != pin][:4]
    # excludeIds drops a doc; markExcludes flags it instead
    top = plain[0][0]
    status, body = _get(
        f"{base}/search?q=def+return&k=4&excludeIds={top}")
    assert status == 200
    assert top not in [d["doc_id"] for d in body["docs"]]
    status, body = _get(
        f"{base}/search?q=def+return&k=4&excludeIds={top}"
        "&markExcludes=true")
    assert status == 200
    assert body["docs"][0]["doc_id"] == top and body["docs"][0]["excluded"]


def test_replication_details_backup_restore(served, tmp_path):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, body = _get(f"{base}/replication?command=details")
    assert status == 200
    d = body["details"]
    assert d["build_id"] == idx.manifest["build_id"]
    assert d["indexFileCount"] > 0 and d["indexSize"] > 0
    # backup produces a restorable snapshot
    status, body = _get(
        f"{base}/replication?command=backup&location={tmp_path}&name=s1")
    assert status == 200 and body["status"] == "OK"
    assert body["snapshot"]["build_id"] == idx.manifest["build_id"]
    from ftidx.maintenance import restore

    restored = restore(str(tmp_path / "s1"), str(tmp_path / "restored"))
    from ftidx.index import open_index

    r = open_index(idx.spark, restored)
    assert r.topk(["def", "return"], k=5) == idx.topk(["def", "return"], k=5)
    # restore over HTTP is refused toward the offline alias flow
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base}/replication?command=restore")
    assert e.value.code == 400
    assert "alias" in json.loads(e.value.read())["error"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base}/replication?command=bogus")
    assert e.value.code == 400


def test_join_endpoint(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, body = _get(f"{base}/join?inner=alpha&q=def+return&k=5&on=repo")
    assert status == 200
    expect = idx.join_topk(["alpha"], ["def", "return"], k=5,
                           join_col="repo").collect()
    assert [(d["doc_id"], d["repo"]) for d in body["docs"]] == \
        [(r["doc_id"], r["repo"]) for r in expect]
    code = 200
    try:
        _get(f"{base}/join?q=def")
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 400


def test_synonyms_param(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, body = _get(f"{base}/search?q=def&k=5&syn=def:return")
    assert status == 200
    expect = idx.topk_synonyms({"def": ["return"]}, k=5)
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == expect
    # singleton groups == plain search
    status, body2 = _get(f"{base}/search?q=def+main&k=5&syn=def:")
    expect2 = idx.topk_synonyms({"def": [], "main": []}, k=5)
    assert [(h["doc_id"], h["score"]) for h in body2["hits"]] == expect2


def test_facet_query_endpoint(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, body = _get(f"{base}/facet_query?fq=d:def;dr:def+return")
    assert status == 200
    expect = idx.facet_queries({"d": ["def"], "dr": ["def", "return"]})
    assert body["counts"] == expect and expect["dr"] >= expect["d"] > 0


def test_mm_and_tie_params(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    _, body = _get(f"{base}/search?q=def+alpha+sigma&mm=2&k=5")
    expect = idx.topk(["def", "alpha", "sigma"], k=5, min_match=2)
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == expect

    qf = "code.content^1,code.ident.split^2"
    _, body = _get(f"{base}/search?q=def+alpha&qf={qf}&tie=0.1&k=5")
    expect = idx.topk_fields(
        ["def", "alpha"], {"code.content": 1.0, "code.ident.split": 2.0},
        k=5, tie=0.1)
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == expect


def test_facet_params_endpoint(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    _, body = _get(f"{base}/facet?q=def&facet=lang&sort=index&missing=1")
    expect = [(r["value"], r["n_docs"]) for r in
              idx.facet_counts(["def"], facet="lang", sort="index").collect()]
    assert [(f["value"], f["n_docs"]) for f in body["facets"]] == expect
    assert body["missing"] == 0


def test_bq_param(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    _, body = _get(f"{base}/search?q=def+alpha&bq=sigma^1.5&k=5")
    expect = idx.topk_boost_query(["def", "alpha"], {"sigma": 1.5}, k=5)
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == expect


def test_schema_endpoint(served):
    srv, idx = served
    _, body = _get(f"http://{srv.host}:{srv.port}/schema")
    assert body["build_id"] == idx.manifest.get("build_id")
    assert body["fields"] and "code.content" in body["fields"]
    fc = body["fields"]["code.content"]
    assert fc["n_terms"] > 0 and fc["n_posting_rows"] >= fc["n_terms"]
    assert fc["n_docs"] > 0 and fc["avgdl"] > 0
    assert isinstance(body["positions"], bool)
    assert body["tombstones"] >= 0 and isinstance(body["has_deltas"], bool)


def test_compact_endpoint(spark, tmp_path):
    """POST /compact folds tombstones into the index (Solr optimize
    analog): the deleted doc stays gone, the tombstone table empties,
    and the serving handle is refreshed in the same call."""
    import json as _json
    import urllib.request

    from ftidx.index import build_index, open_index
    from ftidx.server import FtServer
    from ftidx.synth import synth_source

    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 150), out, n_buckets=4,
                hot_df_threshold=50)
    idx = open_index(spark, out)
    victim = idx.topk(["def"], 1)[0][0]
    idx.delete([victim])
    srv = FtServer(idx).start()
    base = f"http://{srv.host}:{srv.port}"
    try:
        req = urllib.request.Request(f"{base}/compact", method="POST")
        with urllib.request.urlopen(req, timeout=120) as r:
            body = _json.loads(r.read())
        assert body["status"] == "compacted"
        assert body["docs_removed"] >= 1
        assert body["buckets_rewritten"]
        _, search = _get(f"{base}/search?q=def&k=3")
        assert victim not in [h["doc_id"] for h in search["hits"]]
        _, schema = _get(f"{base}/schema")
        assert schema["tombstones"] == 0
    finally:
        srv.stop()


def test_rerank_param(served):
    srv, idx = served
    status, body = _get(
        f"http://{srv.host}:{srv.port}/search"
        f"?q=def+return&rq=alpha&rqDocs=20&rqWeight=1.5&k=5")
    assert status == 200
    expect = idx.topk_reranked(["def", "return"], ["alpha"], k=5,
                               rerank_docs=20, weight=1.5)
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == expect


def test_child_endpoint(served):
    srv, idx = served
    status, body = _get(
        f"http://{srv.host}:{srv.port}/child"
        f"?q=def+return&on=lang&score=max&k=8")
    assert status == 200
    expect = idx.child_topk(["def", "return"], parent_col="lang",
                            score_mode="max", k=8).collect()
    assert [(d["doc_id"], d["parent"], d["n_hits"], d["score"])
            for d in body["docs"]] == \
        [(r["doc_id"], r["parent"], r["n_hits"], r["score"])
         for r in expect]
    import urllib.error

    with pytest.raises(urllib.error.HTTPError):
        _get(f"http://{srv.host}:{srv.port}/child?q=")


def test_parent_endpoint(served):
    srv, idx = served
    status, body = _get(
        f"http://{srv.host}:{srv.port}/parent"
        f"?q=def+return&on=repo&score=total&k=5")
    assert status == 200
    expect = idx.parent_topk(["def", "return"], parent_col="repo",
                             score_mode="total", k=5).collect()
    assert [(p["parent"], p["n_children"], p["score"])
            for p in body["parents"]] == \
        [(r["parent"], r["n_children"], r["score"]) for r in expect]
    import urllib.error

    with pytest.raises(urllib.error.HTTPError):
        _get(f"http://{srv.host}:{srv.port}/parent?q=")


def test_facet_interval_needs_col(served):
    """/facet_interval has no default column: without ``col`` it is a
    client error, not a query over a column the docs table lacks."""
    srv, _ = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"http://{srv.host}:{srv.port}/facet_interval?q=def&set=a:0:9")
    assert e.value.code == 400
    assert json.loads(e.value.read())["error"] == "missing col"


def test_facet_interval_and_nested_endpoints(served):
    srv, idx = served
    status, body = _get(
        f"http://{srv.host}:{srv.port}/facet_interval"
        f"?q=def&col=doc_id&set=lo:0:2199023255552;hi:2199023255552:9e15")
    assert status == 200
    expect = idx.facet_interval(
        ["def"], [(0, 2199023255552, "lo"), (2199023255552, 9e15, "hi")],
        facet="doc_id").collect()
    assert [(b["label"], b["n_docs"]) for b in body["intervals"]] == \
        [(r["label"], r["n_docs"]) for r in expect]

    status, body = _get(
        f"http://{srv.host}:{srv.port}/facet_nested"
        f"?q=def&facet=lang&sub=repo&k=3&ksub=2")
    assert status == 200
    expect = idx.facet_nested(["def"], facet="lang", sub_facet="repo",
                              k_buckets=3, k_sub=2).collect()
    assert [(b["value"], b["sub_value"], b["sub_n"])
            for b in body["buckets"]] == \
        [(r["value"], r["sub_value"], r["sub_n"]) for r in expect]


def test_fl_stored_fields(served):
    srv, idx = served
    status, body = _get(
        f"http://{srv.host}:{srv.port}/search?q=def&k=3&fl=repo,lang")
    assert status == 200
    hits = idx.topk(["def"], k=3)
    stored = idx.fetch_docs([d for d, _ in hits], columns=["repo", "lang"])
    assert [(h["doc_id"], h["score"], h["repo"], h["lang"])
            for h in body["hits"]] == \
        [(d, s, stored[d]["repo"], stored[d]["lang"]) for d, s in hits]
    # without fl= the hits stay lean
    _, lean = _get(f"http://{srv.host}:{srv.port}/search?q=def&k=3")
    assert set(lean["hits"][0]) == {"doc_id", "score"}


def test_ltr_param(served):
    srv, idx = served
    from urllib.parse import quote
    spec = quote("0.01:length(path);0.5:lang = 'python'")
    status, body = _get(
        f"http://{srv.host}:{srv.port}/search?q=def+return&ltr={spec}&k=5")
    assert status == 200
    expect = idx.topk_ltr(["def", "return"],
                          {"length(path)": 0.01, "lang = 'python'": 0.5},
                          k=5).collect()
    assert [(d["doc_id"], d["final"]) for d in body["docs"]] == \
        [(r["doc_id"], r["final"]) for r in expect]


def test_qtime_header(served):
    srv, _ = served
    _, body = _get(f"http://{srv.host}:{srv.port}/search?q=def&k=2")
    assert isinstance(body["QTime"], int) and body["QTime"] >= 0
    _, health = _get(f"http://{srv.host}:{srv.port}/health")
    assert "QTime" in health


def test_analyze_endpoint(served):
    srv, _ = served
    from urllib.parse import quote

    from ftidx.tokenize import tokenize_doc

    text = "def getUserName(): return user_name"
    status, body = _get(
        f"http://{srv.host}:{srv.port}/analyze"
        f"?text={quote(text)}&lang=python&repo=r1&path=a/b.py")
    assert status == 200
    assert body["fields"] == tokenize_doc(text, "python", "r1", "a/b.py")
    assert any(k.startswith("code.") for k in body["fields"])
    # fold=true runs ASCIIFolding BEFORE tokenization: "Café" becomes
    # the token "cafe"; unfolded, the é splits it into "caf"
    status, body = _get(
        f"http://{srv.host}:{srv.port}/analyze"
        f"?text={quote('Café time')}&fold=true")
    assert status == 200 and body["folded"] == "Cafe time"
    assert "cafe" in body["fields"]["code.content"]
    status, body = _get(
        f"http://{srv.host}:{srv.port}/analyze?text={quote('Café time')}")
    assert "folded" not in body
    assert "caf" in body["fields"]["code.content"]


def test_sort_by_function_with_spaces(served):
    srv, idx = served
    from urllib.parse import quote
    status, body = _get(
        f"http://{srv.host}:{srv.port}/search"
        f"?q=def&sort={quote('length(path) % 7 desc')}&k=5")
    assert status == 200
    expect = idx.search_sorted(["def"], "length(path) % 7",
                               ascending=False, rows=5).collect()
    assert [d["doc_id"] for d in body["docs"]] == \
        [r["doc_id"] for r in expect]
    # bare expression with spaces, no direction token → ascending
    status, body2 = _get(
        f"http://{srv.host}:{srv.port}/search"
        f"?q=def&sort={quote('length(path) % 7')}&k=5")
    expect2 = idx.search_sorted(["def"], "length(path) % 7",
                                ascending=True, rows=5).collect()
    assert [d["doc_id"] for d in body2["docs"]] == \
        [r["doc_id"] for r in expect2]


def test_malformed_params_yield_400(served):
    """Malformed user expressions must yield an HTTP 400, never a
    dropped connection: ltr missing expr, unresolvable fl column,
    garbage sort expression."""
    import urllib.error

    srv, _ = served
    base = f"http://{srv.host}:{srv.port}"
    for url in (f"{base}/search?q=def&ltr=0.5&k=3",
                f"{base}/search?q=def&fl=no_such_col&k=3",
                f"{base}/search?q=def&sort=)))bad(((&k=3"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(url)
        assert e.value.code == 400, url


def test_fl_whitespace_and_interval_label_quote(served):
    srv, idx = served
    from urllib.parse import quote
    _, body = _get(
        f"http://{srv.host}:{srv.port}/search?q=def&k=2&fl=repo,%20lang")
    assert all("lang" in h and "repo" in h for h in body["hits"])
    # a label containing a quote is a literal, not parsed SQL
    spec = quote("o'brien:0:9e15")
    _, iv = _get(
        f"http://{srv.host}:{srv.port}/facet_interval"
        f"?q=def&col=doc_id&set={spec}")
    assert iv["intervals"][0]["label"] == "o'brien"
    assert iv["intervals"][0]["n_docs"] == len(
        idx.topk(["def"], k=10**6, kernel="exhaustive"))


def test_group_query_endpoint(served):
    srv, idx = served
    status, body = _get(
        f"http://{srv.host}:{srv.port}/group_query"
        f"?gq=d:def;m:def+main&k=4")
    assert status == 200
    expect = idx.topk_queries({"d": ["def"], "m": ["def", "main"]}, k=4)
    for la in ("d", "m"):
        assert [(h["doc_id"], h["score"]) for h in body["groups"][la]] == \
            expect[la]


def test_cluster_endpoint(served):
    srv, idx = served
    status, body = _get(
        f"http://{srv.host}:{srv.port}/cluster?q=def&k=6")
    assert status == 200
    assert body["clusters"] == idx.cluster_topk(["def"], k=6)
    assert body["clusters"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"http://{srv.host}:{srv.port}/cluster")
    assert e.value.code == 400


def test_mlt_and_tv_endpoints(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    doc = idx.topk(["def"], k=1)[0][0]
    status, body = _get(f"{base}/mlt?id={doc}&k=5")
    assert status == 200
    assert [(h["doc_id"], h["score"]) for h in body["hits"]] == \
        idx.more_like_this(doc, k=5)
    status, body = _get(f"{base}/tv?id={doc}&top=8")
    assert status == 200
    assert [(t["term"], t["tf"]) for t in body["terms"]] == \
        idx.doc_term_vector(doc, top_m=8)
    assert body["terms"]
    for path in ("/mlt", "/tv"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base + path)
        assert e.value.code == 400, path


def test_select_json_endpoint(served):
    srv, idx = served
    url = f"http://{srv.host}:{srv.port}/select"
    req = urllib.request.Request(
        url, data=json.dumps({
            "query": "def", "filter": "lang = 'python'", "limit": 4,
            "fields": ["lang"],
            "facet": {"l": {"type": "terms", "field": "lang"}},
        }).encode(), headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=10) as r:
        body = json.loads(r.read())
    expect = idx.select_json({"query": "def", "filter": "lang = 'python'",
                              "limit": 4, "fields": ["lang"],
                              "facet": {"l": {"type": "terms",
                                              "field": "lang"}}})
    body.pop("QTime", None)   # the HTTP tier stamps QTime on every reply
    assert body == expect and body["response"]["docs"]
    # malformed: bad JSON, bad predicate → 400
    for payload in (b"{nope", json.dumps(
            {"query": "def", "filter": "zzz !! bad"}).encode()):
        bad = urllib.request.Request(
            url, data=payload, headers={"Content-Type": "application/json"})
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(bad, timeout=10)
        assert e.value.code == 400


def test_metrics_endpoint(served):
    srv, idx = served
    idx.topk(["def"], k=2)
    status, body = _get(f"http://{srv.host}:{srv.port}/metrics")
    assert status == 200
    assert body["term_cache"]["entries"] >= 1
    assert body["last_build"]["buckets_done"] > 0


def test_review_fixes_session9(served):
    """Session-9 review hardening: /select 400s on non-dict params /
    string facet / bare-string fields works; gq label-less and
    duplicate segments 400; dunder-prefixed vocabulary terms are
    expandable (pseudo rows are FIELD-keyed, not term-keyed)."""
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"

    def post_select(payload):
        req = urllib.request.Request(
            base + "/select", data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=10) as r:
            return json.loads(r.read())

    # bare-string fields now accepted (coerced to [field])
    ok = post_select({"query": "def", "limit": 2, "fields": "lang"})
    assert ok["response"]["docs"] and "lang" in ok["response"]["docs"][0]
    # malformed-but-valid-JSON shapes → 400, never a dropped connection
    for payload in ({"query": "def", "params": "mm=2"},
                    {"query": "def", "facet": ["x"]},
                    {"query": "def", "facet": {"a": "terms"}},
                    {"query": "def", "facet": {"a": {"type": "terms"}}},
                    {"query": "def", "filter": [1]}):
        req = urllib.request.Request(
            base + "/select", data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"})
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req, timeout=10)
        assert e.value.code == 400, payload

    # gq: label-less and duplicate segments are caller errors
    for gq in ("def", "a:def;a:return"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{base}/group_query?gq={gq}")
        assert e.value.code == 400, gq


def test_highlight_endpoint(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, body = _get(f"{base}/search?q=def+return&k=5&hl=true")
    assert status == 200
    hl = body["highlighting"]
    assert set(hl) == {str(h["doc_id"]) for h in body["hits"]}
    # every hit matched at least one term somewhere in its content,
    # so at least one fragment across the page carries a tag
    tagged = [f for frags in hl.values() for f in frags]
    assert any("<em>" in f and "</em>" in f for f in tagged)
    # HTTP result equals the engine call on the same page
    want = idx.highlight([h["doc_id"] for h in body["hits"]],
                         ["def", "return"])
    assert hl == {str(d): f for d, f in want.items()}
    # custom tag + explicit terms + fragment size
    status, body = _get(
        f"{base}/search?q=def&k=3&hl=def&hl.tag=mark&hl.size=40")
    assert status == 200
    for frags in body["highlighting"].values():
        for f in frags:
            assert "<mark>" in f
            # fragment length: frag_size chars + tag overhead
            assert len(f) <= 40 + f.count("<mark>") * len("<mark></mark>")


@pytest.fixture()
def served_rw(spark, tmp_path):
    """Function-scoped read-write server: /update mutates the index, so
    it never shares the module-scoped read-only fixture."""
    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 120), out, n_buckets=4,
                hot_df_threshold=50, store_content=True)
    idx = open_index(spark, out)
    srv = FtServer(idx).start()
    yield srv, idx
    srv.stop()


def _post_json(url, body):
    import urllib.error

    req = urllib.request.Request(
        url, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=300) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_update_add_atomic_delete(served_rw):
    srv, idx = served_rw
    base = f"http://{srv.host}:{srv.port}"
    # add a brand-new doc -> immediately searchable (soft-commit)
    doc = {"repo": "brand", "path": "new/file.py", "commit": "c1",
           "lang": "python", "content": "def httpupdaterm(): pass"}
    status, body = _post_json(f"{base}/update", {"add": [doc]})
    assert status == 200 and body["added"] == 1
    status, res = _get(f"{base}/search?q=httpupdaterm&k=5")
    assert status == 200 and len(res["hits"]) == 1
    did = res["hits"][0]["doc_id"]

    # atomic {'set': ...} on lang, served through /get afterwards
    status, body = _post_json(
        f"{base}/update", {"atomic": {str(did): {"lang": {"set": "go"}}}})
    assert status == 200 and body["atomic"] == 1
    status, res = _get(f"{base}/search?q=httpupdaterm&k=5")
    did2 = res["hits"][0]["doc_id"]  # bucket rebuild may re-rank ids
    status, g = _get(f"{base}/get?id={did2}")
    assert status == 200 and g["doc"]["lang"] == "go"

    # delete by id -> gone from search
    status, body = _post_json(f"{base}/update", {"delete": {"ids": [did2]}})
    assert status == 200 and body["deleted"] == 1
    status, res = _get(f"{base}/search?q=httpupdaterm&k=5")
    assert res["hits"] == []


def test_update_validation_400s(served_rw):
    srv, _ = served_rw
    base = f"http://{srv.host}:{srv.port}"
    for bad in ({}, {"nope": 1}, {"add": []}, {"add": [{"repo": "x"}]},
                {"delete": {"query": "*:*"}},
                {"atomic": {"1": {"repo": {"set": "x"}}}},
                {"atomic": {"1": {"lang": {"inc": 1}}}}):
        status, body = _post_json(f"{base}/update", bad)
        assert status == 400 and "error" in body, bad


def test_stream_endpoint(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    expr = ('top(n=3, rollup(search(idx, q="def return", k=20, fl="lang"), '
            'over="lang", count(*)), sort="count(*) desc, lang asc")')
    status, body = _post_json(f"{base}/stream", {"expr": expr})
    assert status == 200
    docs = body["result-set"]["docs"]
    assert docs[-1] == {"EOF": True}
    from ftidx.streamexpr import StreamContext, evaluate
    exp = [r.asDict() for r in
           evaluate(expr, StreamContext(indexes={"idx": idx})).collect()]
    assert docs[:-1] == exp and exp

    # table(docs) = the jdbc()-analog source over this index's docs
    status, body = _post_json(
        f"{base}/stream",
        {"expr": 'top(n=2, select(table(docs), "doc_id", "lang"), '
                 'sort="doc_id asc")'})
    assert status == 200
    rows = body["result-set"]["docs"][:-1]
    assert len(rows) == 2 and set(rows[0]) == {"doc_id", "lang"}

    for bad in ({"expr": "daemon(table(docs))"}, {}, {"expr": ""},
                {"expr": 'top(n=1, table(nosuch), sort="x asc")'},
                {"expr": 'top(n=1, select(table(docs), "nocol"), '
                         'sort="nocol asc")'}):
        status, body = _post_json(f"{base}/stream", bad)
        assert status == 400 and "error" in body, bad


def test_sql_endpoint(served):
    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, body = _post_json(
        f"{base}/sql",
        {"stmt": "SELECT lang, count(*) AS n FROM docs "
                 "GROUP BY lang ORDER BY n DESC, lang"})
    assert status == 200
    docs = body["result-set"]["docs"]
    assert docs[-1] == {"EOF": True}
    exp = [(r["lang"], r["n"]) for r in
           idx.spark.read.parquet(f"{idx.path}/docs")
           .groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.desc("n"), F.asc("lang")).collect()]
    assert [(d["lang"], d["n"]) for d in docs[:-1]] == exp

    # WITH works; trailing semicolon tolerated
    status, body = _post_json(
        f"{base}/sql",
        {"stmt": "WITH c AS (SELECT count(*) AS n FROM docs) "
                 "SELECT n FROM c;"})
    assert status == 200 and body["result-set"]["docs"][0]["n"] > 0

    for bad in ({"stmt": "DROP TABLE docs"},
                {"stmt": "INSERT INTO docs VALUES (1)"},
                {"stmt": "SELECT 1; SELECT 2"},
                {"stmt": "SELECT nosuchcol FROM docs"},
                {"stmt": ""}, {}):
        status, body = _post_json(f"{base}/sql", bad)
        assert status == 400 and "error" in body, bad


def test_phonetic_endpoint(spark, tmp_path):
    """Soundex expansion: smith/smyth/smithe share S530; 'xyzzy'
    doesn't; non-alphabetic query -> empty, not an error."""
    docs = spark.createDataFrame(
        [("r", f"f{i}.txt", f"c{i}", "text", txt, False, None)
         for i, txt in enumerate([
             "smith wrote code", "smyth wrote more", "smithe again",
             "completely unrelated xyzzy"])],
        "repo string, path string, commit string, lang string, "
        "content string, deleted boolean, modified timestamp")
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, n_buckets=2, hot_df_threshold=50)
    idx = open_index(spark, out)
    got = [t for t, _ in idx.phonetic_terms("smith")]
    assert set(got) == {"smith", "smyth", "smithe"}
    assert idx.phonetic_terms("42") == []

    srv = FtServer(idx).start()
    try:
        status, body = _get(
            f"http://{srv.host}:{srv.port}/phonetic?term=smith")
        assert status == 200
        assert {t["term"] for t in body["terms"]} == set(got)
        import urllib.error
        with pytest.raises(urllib.error.HTTPError):
            _get(f"http://{srv.host}:{srv.port}/phonetic?term=")
    finally:
        srv.stop()


# ---------------------------------------------------------- /export


def test_export_engine_full_sorted_match_set(served):
    """FtIndex.export returns EVERY match (never a page), totally
    ordered, projected to fl — equal to the hand-built recount."""
    srv, idx = served
    got = [(r["doc_id"], r["path"]) for r in
           idx.export(["def"], "path desc", ["doc_id", "path"]).collect()]
    spark = idx.spark
    matched = idx._matched_ids(["def"], "code.content")
    exp = [(r["doc_id"], r["path"]) for r in
           spark.read.parquet(f"{idx.path}/docs")
           .join(matched, "doc_id").select("doc_id", "path")
           .collect()]
    exp.sort(key=lambda t: (t[1],), reverse=True)
    # stable total order: path desc then doc_id asc
    exp = sorted(exp, key=lambda t: t[0])
    exp.sort(key=lambda t: t[1], reverse=True)
    assert got == exp and len(got) > 20  # full set, not a page
    with pytest.raises(ValueError, match="sort"):
        idx.export(["def"], "", ["doc_id"])
    with pytest.raises(ValueError, match="fl"):
        idx.export(["def"], "path asc", [])


def test_export_route_streams_full_set(served):
    srv, idx = served
    url = (f"http://{srv.host}:{srv.port}/export?q=def"
           f"&sort=path+asc&fl=doc_id,path,lang")
    with urllib.request.urlopen(url, timeout=120) as r:
        assert r.status == 200
        body = json.loads(r.read())
    docs = body["response"]["docs"]
    assert body["response"]["numFound"] == len(docs)
    exp = [r.asDict() for r in
           idx.export(["def"], "path asc",
                      ["doc_id", "path", "lang"]).collect()]
    assert docs == exp and len(docs) > 20
    # Solr contract: refuses without sort / fl; unknown q is empty
    for bad in ("q=def&fl=doc_id", "q=def&sort=path+asc", "sort=x&fl=y"):
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://{srv.host}:{srv.port}/export?{bad}", timeout=30)
        assert ei.value.code == 400
    with urllib.request.urlopen(
            f"http://{srv.host}:{srv.port}/export?q=zzzzqqqq"
            f"&sort=path+asc&fl=doc_id", timeout=120) as r:
        empty = json.loads(r.read())
    assert empty["response"] == {"docs": [], "numFound": 0}


# ------------------------------------------------------------- /knn


def _fake_embs(doc_ids, dim=6):
    """Deterministic per-doc embedding: md5-derived floats in [-1, 1]."""
    import hashlib

    out = {}
    for d in doc_ids:
        h = hashlib.md5(f"emb:{d}".encode()).hexdigest()
        out[d] = [int(h[i * 4:i * 4 + 4], 16) / 32768.0 - 1.0
                  for i in range(dim)]
    return out


def test_knn_matches_numpy_and_composes_fq(served):
    import numpy as np

    srv, idx = served
    spark = idx.spark
    ids = [int(r["doc_id"]) for r in
           spark.read.parquet(f"{idx.path}/docs")
           .select("doc_id").collect()]
    embs = _fake_embs(ids)
    vecs = spark.createDataFrame(
        [(d, e) for d, e in embs.items()],
        "doc_id long, embedding array<double>")
    with pytest.raises(ValueError, match="attach_vectors"):
        idx.knn([1.0] * 6)
    idx.attach_vectors(vecs)
    q = [0.3, -0.2, 0.9, 0.1, -0.5, 0.4]
    got = [(r["doc_id"], r["cosine"]) for r in idx.knn(q, k=7).collect()]
    qv = np.array(q)
    scored = sorted(
        ((round(float(np.dot(e, qv)
                      / (np.linalg.norm(e) * np.linalg.norm(qv))), 5), -d)
         for d, e in embs.items()), reverse=True)
    exp = [(-nd, c) for c, nd in scored[:7]]
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (gd, gc), (ed, ec) in zip(got, exp):
        assert gc == pytest.approx(ec, abs=2e-5)
    # fq composition: candidates restricted BEFORE the cut
    allowed = {int(r["doc_id"]) for r in
               idx._matched_ids(["beta"], "code.content").collect()}
    assert allowed and len(allowed) < len(ids)
    filt = [int(r["doc_id"]) for r in
            idx.knn(q, k=10**6, terms=["beta"]).collect()]
    assert set(filt) == allowed


def test_knn_route_parity_and_rejections(served):
    srv, idx = served
    q = [0.3, -0.2, 0.9, 0.1, -0.5, 0.4]
    req = urllib.request.Request(
        f"http://{srv.host}:{srv.port}/knn",
        data=json.dumps({"vector": q, "k": 5}).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=60) as r:
        body = json.loads(r.read())
    exp = [{"doc_id": r["doc_id"], "score": r["cosine"]}
           for r in idx.knn(q, k=5).collect()]
    assert body["docs"] == exp and len(exp) == 5
    for bad in ({}, {"vector": []}, {"vector": "x"},
                {"vector": [1.0, "a"]}, {"vector": [True, 1.0]}):
        breq = urllib.request.Request(
            f"http://{srv.host}:{srv.port}/knn",
            data=json.dumps(bad).encode(),
            headers={"Content-Type": "application/json"})
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(breq, timeout=30)
        assert ei.value.code == 400


def test_export_unknown_column_answers_400(served):
    srv, idx = served
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(
            f"http://{srv.host}:{srv.port}/export?q=def"
            f"&sort=path+asc&fl=doc_id,nope_col", timeout=30)
    assert ei.value.code == 400


# ------------------------------------------------- /facet_range_date


def _add_months_clamped(dt, n):
    """Java Calendar / java.time plusMonths semantics: add n months to
    the ORIGINAL anchor, clamping the day to the target month's last."""
    import calendar as _cal
    from datetime import datetime as _dt

    y, m = divmod((dt.year * 12 + dt.month - 1) + n, 12)
    m += 1
    day = min(dt.day, _cal.monthrange(y, m)[1])
    return _dt(y, m, day, dt.hour, dt.minute, dt.second, dt.microsecond)


def _date_facet_recount(idx, terms, start, end, gap_fn):
    """Python recount: matched docs' modified values binned by the
    bucket-boundary function."""
    from datetime import datetime as _dt

    spark = idx.spark
    ids = {int(r["doc_id"]) for r in
           idx._matched_ids(terms, "code.content").collect()}
    s = _dt.fromisoformat(start)
    e = _dt.fromisoformat(end)
    exp = {}
    for r in spark.read.parquet(f"{idx.path}/docs") \
            .select("doc_id", "modified").collect():
        if int(r["doc_id"]) not in ids or r["modified"] is None:
            continue
        v = r["modified"]
        if not (s <= v < e):
            continue
        exp[gap_fn(s, v)] = exp.get(gap_fn(s, v), 0) + 1
    return exp


def test_facet_range_date_fixed_gap_matches_recount(served):
    from datetime import timedelta

    srv, idx = served
    start, end = "2024-02-03 05:00:00", "2024-09-01 00:00:00"

    def bucket(s, v):
        step = timedelta(days=11)
        return s + step * int((v - s) // step)

    exp = _date_facet_recount(idx, ["def"], start, end, bucket)
    got = {r["bucket_start"]: r["n_docs"] for r in
           idx.facet_range_date(["def"], start, end, "+11DAY").collect()}
    assert got == exp and len(got) > 5


def test_facet_range_date_month_gap_clamps_like_java(served):
    srv, idx = served
    start, end = "2024-01-31 02:30:00", "2024-12-30 00:00:00"

    def bucket(s, v):
        # largest i with add_months(s, i) <= v
        i = 0
        while _add_months_clamped(s, i + 1) <= v:
            i += 1
        return _add_months_clamped(s, i)

    exp = _date_facet_recount(idx, ["def"], start, end, bucket)
    got = {r["bucket_start"]: r["n_docs"] for r in
           idx.facet_range_date(["def"], start, end,
                                "+1MONTH").collect()}
    assert got == exp and len(got) > 5
    # the clamped boundary is actually present: Jan 31 +1MONTH = Feb 29
    assert any(b.month == 2 and b.day == 29 for b in got)
    with pytest.raises(ValueError, match="date math"):
        idx.facet_range_date(["def"], start, end, "fortnight")


def test_facet_range_date_route(served):
    srv, idx = served
    url = (f"http://{srv.host}:{srv.port}/facet_range_date?q=def"
           f"&start=2024-02-03+05:00:00&end=2024-09-01+00:00:00"
           f"&gap=%2B11DAY")
    status, body = _get(url)
    assert status == 200
    exp = [{"start": r["bucket_start"].strftime("%Y-%m-%dT%H:%M:%SZ"),
            "n_docs": r["n_docs"]} for r in
           idx.facet_range_date(["def"], "2024-02-03 05:00:00",
                                "2024-09-01 00:00:00", "+11DAY").collect()]
    assert body["buckets"] == exp and exp
    for bad in ("q=def&start=2024-01-01&end=2024-02-01",
                "q=def&start=2024-01-01&end=2024-02-01&gap=nope"):
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"http://{srv.host}:{srv.port}/facet_range_date?{bad}",
                timeout=30)
        assert ei.value.code == 400


def test_facet_range_other_matches_recount_and_route(served):
    from datetime import datetime as _dt

    srv, idx = served
    ids = {int(r["doc_id"]) for r in
           idx._matched_ids(["def"], "code.content").collect()}
    vals = {int(r["doc_id"]): r["modified"] for r in
            idx.spark.read.parquet(f"{idx.path}/docs")
            .select("doc_id", "modified").collect()}
    s, e = _dt(2024, 3, 1, 12), _dt(2024, 9, 15, 6)
    exp = {"before": 0, "between": 0, "after": 0}
    for d in ids:
        v = vals[d]
        exp["before" if v < s else ("between" if v < e else "after")] += 1
    got = idx.facet_range_other(
        ["def"], "modified", "2024-03-01 12:00:00",
        "2024-09-15 06:00:00", date=True)
    assert got == exp and all(exp.values())
    status, body = _get(
        f"http://{srv.host}:{srv.port}/facet_range_date?q=def"
        f"&start=2024-03-01+12:00:00&end=2024-09-15+06:00:00"
        f"&gap=%2B1MONTH&other=all")
    assert status == 200 and body["other"] == exp
    assert sum(b["n_docs"] for b in body["buckets"]) == exp["between"]
    # numeric flavor: bucket column, full span -> everything between
    n = idx.facet_range_other(["def"], "bucket", 0, 100)
    assert n == {"before": 0, "between": len(ids), "after": 0}
    with pytest.raises(ValueError, match="precede"):
        idx.facet_range_other(["def"], "bucket", 5, 5)


def test_stream_daemon_lifecycle_over_http(served):
    """Solr daemon over the serving tier: POST /stream registers the
    daemon, GET /stream?action=list shows it iterating, stop
    terminates it in place, kill forgets it. The daemon's iterations
    share the server lock with request work (run_lock wiring)."""
    import time

    srv, idx = served
    base = f"http://{srv.host}:{srv.port}"
    status, body = _post_json(f"{base}/stream", {
        "expr": 'daemon(id="hd1", runInterval="100", '
                'search(idx, q="def", k=3))'})
    assert status == 200
    row = body["result-set"]["docs"][0]
    assert row["id"] == "hd1" and row["state"] == "RUNNING"

    deadline = time.time() + 30
    while True:
        status, body = _get(f"{base}/stream?action=list")
        assert status == 200
        (info,) = [d for d in body["daemons"] if d["id"] == "hd1"]
        if info["iterations"] >= 2:
            break
        assert time.time() < deadline, info
        time.sleep(0.05)
    assert info["state"] == "RUNNING" and info["lastTuples"] == 3
    # requests still served while the daemon loops (lock is shared,
    # not monopolized)
    status, h = _get(f"{base}/search?q=def&k=2")
    assert status == 200 and len(h["hits"]) == 2

    status, body = _get(f"{base}/stream?action=stop&id=hd1")
    assert status == 200 and body["state"] == "TERMINATED"
    status, body = _get(f"{base}/stream?action=list")
    assert [d["id"] for d in body["daemons"]] == ["hd1"]  # stopped, listed

    status, body = _get(f"{base}/stream?action=kill&id=hd1")
    assert status == 200
    status, body = _get(f"{base}/stream?action=list")
    assert body["daemons"] == []

    import urllib.error

    for bad, code in [("action=stop&id=nosuch", 404), ("action=bogus", 400)]:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}/stream?{bad}")
        assert ei.value.code == code


def test_metrics_surface_persisted_failure_reasons_over_http(spark, tmp_path):
    """S27 over the wire: a poisoned bucket's persisted ledger reason
    must reach an operator through GET /metrics AFTER the fixed resume
    — the HTTP tier of the queueFail-parity forensic record
    (RawRepoQueueBean.java:28-34; library tier pinned in
    tests/test_index.py::test_failed_bucket_reason_persisted)."""
    out = str(tmp_path / "idx_poison_http")
    src = synth_source(spark, 120, partitions=3)

    def poison(batches):
        for pdf in batches:
            raise RuntimeError("poisoned partition: disk XYZ stanza")
            yield pdf  # pragma: no cover

    bad = src.mapInPandas(poison, schema=src.schema)
    with pytest.raises(Exception):
        build_index(spark, bad, out, n_buckets=4, build_id="badrun")
    build_index(spark, src, out, n_buckets=4, build_id="goodrun")

    srv = FtServer(open_index(spark, out)).start()
    try:
        status, m = _get(f"http://{srv.host}:{srv.port}/metrics")
        assert status == 200
        assert m["failures"]["count"] == 4
        assert m["failures"]["unresolved_buckets"] == []
        rec = m["failures"]["rows"][0]
        assert rec["build_id"] == "badrun"
        assert "disk XYZ" in rec["error"]
        assert m["last_build"]["buckets_done"] == 4
        # health still green after the resumed build
        hstatus, h = _get(f"http://{srv.host}:{srv.port}/health")
        assert hstatus == 200 and h["status"] == "ok"
    finally:
        srv.stop()
