"""Index-time shingle field (Solr ShingleFilterFactory, size-2, no
unigrams): spec/batch twins agree, a BM25 term query on the field
answers two-word phrase queries with membership identical to the
positional engine, the plain field is unaffected, manifest/resume/
upsert/streaming keep the analyzer consistent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ftidx.index import build_index, open_index
from ftidx.tokenize import tokenize_doc, tokenize_tf_batch


def _corpus(spark, rows):
    return spark.createDataFrame(
        [("r", f"f{i}.txt", f"c{i}", "text", txt, False, None)
         for i, txt in enumerate(rows)],
        "repo string, path string, commit string, lang string, "
        "content string, deleted boolean, modified timestamp")


def test_shingle_spec_and_batch_twin(spark):
    spec = tokenize_doc("alpha beta beta gamma", "text", "r", "p",
                        shingle_field=True)
    assert spec["code.content.shingle"] == \
        ["alpha beta", "beta beta", "beta gamma"]
    # single-token / empty docs emit no shingles
    assert "code.content.shingle" not in tokenize_doc(
        "single", "text", "r", "p", shingle_field=True)
    # the batch kernel agrees with the spec, tf/dl aggregated
    from ftidx.build import prepare_docs

    docs = prepare_docs(_corpus(
        spark, ["alpha beta beta gamma", "beta gamma", "single", ""]), 2)
    tf = tokenize_tf_batch(
        docs.select("doc_id", "content", "lang", "repo", "path").toPandas(),
        shingle_field=True)
    got = {}
    for r in tf[tf["field"] == "code.content.shingle"].to_dict("records"):
        got[(r["doc_id"], r["term"])] = (r["tf"], r["dl"])
    by_doc: dict = {}
    for (d, t), (c, _) in got.items():
        by_doc.setdefault(d, {})[t] = c
    assert sorted(sorted(v.items()) for v in by_doc.values()) == sorted([
        sorted({"alpha beta": 1, "beta beta": 1, "beta gamma": 1}.items()),
        sorted({"beta gamma": 1}.items()),
    ])
    # dl of the shingle field = n_tokens - 1
    assert {dl for (_, dl) in got.values()} == {3, 1}


def test_shingle_field_answers_phrases_like_positions(spark, tmp_path):
    """The membership pin: for a two-word phrase, docs matched by a
    term query on the shingle field == docs the positional engine's
    exact phrase query matches, and the shingle tf == the phrase
    occurrence count."""
    rows = ["merge sort then merge sort again",
            "sort merge is not the phrase",
            "merge alone and sort alone",
            "a merge sort implementation"]
    docs = _corpus(spark, rows)
    sh_dir, pos_dir = str(tmp_path / "sh"), str(tmp_path / "pos")
    build_index(spark, docs, sh_dir, n_buckets=2, hot_df_threshold=50,
                shingle_field=True)
    build_index(spark, docs, pos_dir, n_buckets=2, hot_df_threshold=50,
                positions=True)
    sh, pos = open_index(spark, sh_dir), open_index(spark, pos_dir)

    sh_hits = sh.topk(["merge sort"], k=10, field="code.content.shingle")
    ph_hits = pos.phrase_topk(["merge", "sort"], k=10)
    assert {d for d, _ in sh_hits} == {d for d, _ in ph_hits} and sh_hits
    # tf(shingle) == phrase occurrence count: one doc has it twice
    from ftidx.wand import TermList

    tfs = {}
    for r in (sh._postings.filter(
            "field = 'code.content.shingle' and term = 'merge sort'")
            .collect()):
        ids, tf_arr, _ = TermList("merge sort", [r.asDict()],
                                  0.0).decode_all()
        tfs.update({int(i): int(t) for i, t in zip(ids, tf_arr)})
    assert sorted(tfs.values(), reverse=True) == [2, 1]
    # adjacency is what matters: "sort then" occurs, "alone merge" never
    assert sh.topk(["sort then"], k=10, field="code.content.shingle")
    assert sh.topk(["alone merge"], k=10,
                   field="code.content.shingle") == []
    # the plain field is unaffected by the option
    plain_dir = str(tmp_path / "plain")
    build_index(spark, docs, plain_dir, n_buckets=2, hot_df_threshold=50)
    plain = open_index(spark, plain_dir)
    assert sh.topk(["merge"], k=10) == plain.topk(["merge"], k=10)


def test_shingle_manifest_resume_upsert_streaming(spark, tmp_path):
    import json as _json

    from ftidx.maintenance import upsert
    from ftidx.streaming import index_microbatch

    docs = _corpus(spark, ["merge sort daily", "window scan only"])
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, n_buckets=2, hot_df_threshold=50,
                shingle_field=True)
    man = _json.loads((tmp_path / "idx" / "_manifest.json").read_text())
    assert man["shingle_field"] is True and man["status"] == "done"
    with pytest.raises(ValueError, match="shingle_field"):
        build_index(spark, docs, out, n_buckets=2, resume=True)

    # upsert keeps emitting shingles for rebuilt buckets
    edited = _corpus(spark, ["quick sort daily", "window scan only"])
    upsert(spark, out, edited)
    idx = open_index(spark, out)
    assert idx.topk(["quick sort"], k=5, field="code.content.shingle")
    assert idx.topk(["merge sort"], k=5,
                    field="code.content.shingle") == []

    # streamed deltas carry the field (the positional-delta parity rule)
    extra = _corpus(spark, ["bubble sort nightly"]).withColumn(
        "path", F.lit("new.txt"))
    index_microbatch(extra, 0, out, n_buckets=2)
    idx.refresh()
    assert idx.topk(["bubble sort"], k=5, field="code.content.shingle")
