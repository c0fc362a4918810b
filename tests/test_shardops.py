"""Shard lifecycle (split_index / merge_indexes — Solr SPLITSHARD and
CoreAdmin MERGEINDEXES): splitting moves whole bucket partitions, so
doc_ids survive verbatim and the children, queried as one FtShards
with global stats, must rank EXACTLY like the parent; merging the
children back must round-trip to a query-identical index. Refusal
paths: uncompacted deltas, non-empty targets, more children than
buckets, overlapping bucket sets on merge."""

from __future__ import annotations

import json

import pytest

from ftidx.index import build_index, open_index
from ftidx.maintenance import merge_indexes, split_index
from ftidx.shards import FtShards
from ftidx.synth import synth_source

TERMS = ["def", "value", "merge"]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("shop")
    corpus = synth_source(spark, 300).cache()
    parent = str(root / "parent")
    build_index(spark, corpus, parent, n_buckets=8, store_content=True)
    corpus.unpersist()
    kids = [str(root / "kid0"), str(root / "kid1"), str(root / "kid2")]
    info = split_index(spark, parent, kids)
    return root, parent, kids, info


def test_split_assigns_modulo_and_preserves_doc_ids(spark, setup):
    _, parent, kids, info = setup
    assert set(info["buckets"][0]) == {0, 3, 6}
    assert set(info["buckets"][1]) == {1, 4, 7}
    assert set(info["buckets"][2]) == {2, 5}
    pdocs = {r["doc_id"] for r in
             spark.read.parquet(f"{parent}/docs").select("doc_id").collect()}
    kdocs = set()
    for k in kids:
        mine = {r["doc_id"] for r in
                spark.read.parquet(f"{k}/docs").select("doc_id").collect()}
        assert not (kdocs & mine)  # disjoint doc_id spaces
        kdocs |= mine
    assert kdocs == pdocs


def test_split_children_rank_identical_to_parent(spark, setup):
    _, parent, kids, _ = setup
    mono = open_index(spark, parent)
    shards = FtShards.open(spark, kids)
    big = 10**6
    mono_hits = dict(mono.topk(TERMS, k=big, kernel="exhaustive"))
    sh_hits = {d: s for _, d, s in shards.topk(TERMS, k=big)}
    assert set(sh_hits) == set(mono_hits) and mono_hits
    for d, s in mono_hits.items():
        assert sh_hits[d] == pytest.approx(s, rel=1e-9)
    # global stats equal the parent's exactly
    n, avgdl = shards.global_stats("code.content")
    pn, pavg = mono.stats["code.content"]
    assert n == pn and avgdl == pytest.approx(pavg, rel=1e-12)


def test_split_merge_round_trips(spark, setup, tmp_path):
    _, parent, kids, _ = setup
    merged_p = str(tmp_path / "merged")
    merge_indexes(spark, kids, merged_p)
    mono = open_index(spark, parent)
    merged = open_index(spark, merged_p)
    assert merged.stats == mono.stats
    big = 10**6
    assert mono.topk(TERMS, k=big, kernel="exhaustive") == \
        merged.topk(TERMS, k=big, kernel="exhaustive")
    man = json.loads((tmp_path / "merged" / "_manifest.json").read_text())
    assert man["status"] == "done" and len(man["merged_from"]) == 3


def test_split_routes_tombstones_to_owner(spark, setup, tmp_path):
    _, parent, _, _ = setup
    mono = open_index(spark, parent)
    victim = mono.topk(TERMS, k=1, kernel="exhaustive")[0][0]
    # fresh copy so the module-scoped fixture stays undeleted
    import shutil

    p2 = str(tmp_path / "p2")
    shutil.copytree(parent, p2)
    idx2 = open_index(spark, p2)
    idx2.delete([victim])
    kids = [str(tmp_path / "k0"), str(tmp_path / "k1")]
    split_index(spark, p2, kids)
    owner = (victim >> 40) % 2
    for i, k in enumerate(kids):
        # every child gets a tombstone table (possibly 0 rows — the
        # ledger's emptiness convention); only the owner's has the id
        tdir = tmp_path / f"k{i}" / "tombstones"
        ids = {r["doc_id"] for r in spark.read.parquet(str(tdir)).collect()}
        assert ids == ({victim} if i == owner else set())
    shards = FtShards.open(spark, kids)
    assert victim not in {d for _, d, _ in shards.topk(TERMS, k=10**6)}


def test_split_and_merge_refusals(spark, setup, tmp_path):
    root, parent, kids, _ = setup
    # more children than live buckets
    with pytest.raises(ValueError, match="would own no bucket"):
        split_index(spark, parent, [str(tmp_path / f"x{i}") for i in range(9)])
    # sparse ownership: kid0 owns {0, 3, 6}; all three are ≡ 0 mod 3,
    # so splitting it into 3 leaves children 1 and 2 bucket-less even
    # though n_children <= n_buckets — must refuse BEFORE any write
    with pytest.raises(ValueError, match="would own no bucket"):
        split_index(spark, kids[0],
                    [str(tmp_path / f"sp{i}") for i in range(3)])
    assert not (tmp_path / "sp0").exists()
    # non-empty target
    busy = tmp_path / "busy"
    busy.mkdir()
    (busy / "junk").write_text("x")
    with pytest.raises(ValueError, match="not empty"):
        split_index(spark, parent, [str(busy), str(tmp_path / "y")])
    # uncompacted deltas
    import shutil

    p3 = tmp_path / "p3"
    shutil.copytree(parent, p3)
    (p3 / "deltas").mkdir()
    (p3 / "deltas" / "batch=0").mkdir()
    (p3 / "deltas" / "batch=0" / "f.parquet").write_text("x")
    with pytest.raises(ValueError, match="maintenance.compact first"):
        split_index(spark, str(p3), [str(tmp_path / "a"), str(tmp_path / "b")])
    # merge overlap: a shard merged with itself shares every bucket
    with pytest.raises(ValueError, match="disjoint"):
        merge_indexes(spark, [kids[0], kids[0]], str(tmp_path / "m"))


def test_sharded_knn_equals_parent(spark, setup):
    """split children + per-shard vector tables: the scatter-gather
    knn merge returns exactly the parent's top-k (doc_ids survive the
    split verbatim, cosine needs no global stats)."""
    import hashlib

    from ftidx.index import open_index
    from ftidx.shards import FtShards

    _, parent, kids, _ = setup
    mono = open_index(spark, parent)
    shards = FtShards.open(spark, kids)
    ids = [int(r["doc_id"]) for r in
           spark.read.parquet(f"{parent}/docs").select("doc_id").collect()]

    def emb(d):
        h = hashlib.md5(f"v:{d}".encode()).hexdigest()
        return [int(h[i * 4:i * 4 + 4], 16) / 32768.0 - 1.0
                for i in range(5)]

    all_vecs = spark.createDataFrame(
        [(d, emb(d)) for d in ids], "doc_id long, embedding array<double>")
    mono.attach_vectors(all_vecs)
    with pytest.raises(ValueError, match="no vectors attached"):
        shards.knn([1.0] * 5)
    for si, sh in enumerate(shards.shards):
        own = {int(r["doc_id"]) for r in
               spark.read.parquet(f"{kids[si]}/docs")
               .select("doc_id").collect()}
        sh.attach_vectors(spark.createDataFrame(
            [(d, emb(d)) for d in ids if d in own],
            "doc_id long, embedding array<double>"))
    q = [0.4, -0.1, 0.8, 0.2, -0.6]
    exp = [(int(r["doc_id"]), r["cosine"])
           for r in mono.knn(q, k=9).collect()]
    got = [(d, c) for _, d, c in shards.knn(q, k=9)]
    assert got == exp and len(got) == 9
    assert shards.knn(q, k=0) == []


def test_rebalance_moves_buckets_query_identical(spark, setup, tmp_path):
    """Explicit one-bucket move + default even-out plan: file-level
    bucket relocation, tombstones re-routed to the final owner,
    FtShards rank/score-identical before and after, manifests record
    explicit ownership."""
    import shutil

    from ftidx.maintenance import rebalance_shards

    _, parent, _, _ = setup
    # fresh 2-way split (uneven universe: 4 + 4 buckets over 8)
    p2 = str(tmp_path / "p2")
    shutil.copytree(parent, p2)
    mono = open_index(spark, p2)
    victim = mono.topk(TERMS, k=1, kernel="exhaustive")[0][0]
    mono.delete([victim])
    kids = [str(tmp_path / "rk0"), str(tmp_path / "rk1")]
    split_index(spark, p2, kids)
    shards = FtShards.open(spark, kids)
    big = 10**6
    # ties break (score, shard, doc) — the documented one place layout
    # shows — so the cross-layout pin is membership + per-doc score
    before = {d: round(s, 9) for _, d, s in shards.topk(TERMS, k=big)}
    vb = victim >> 40

    # move the victim's bucket to the other shard
    src_ord = vb % 2
    info = rebalance_shards(spark, kids, plan={vb: 1 - src_ord})
    assert info["moves"] == {vb: {"from": src_ord, "to": 1 - src_ord}}
    assert sum(info["counts_after"]) == sum(info["counts_before"]) == 8
    assert not (tmp_path / f"rk{src_ord}" / "docs" / f"bucket={vb}").exists()
    assert (tmp_path / f"rk{1 - src_ord}" / "docs" / f"bucket={vb}").exists()
    # tombstone re-routed with its bucket
    tomb = {r["doc_id"] for r in spark.read.parquet(
        str(tmp_path / f"rk{1 - src_ord}" / "tombstones")).collect()}
    assert victim in tomb
    # manifests: explicit router + final ownership recorded
    for i, k in enumerate(kids):
        man = json.loads((tmp_path / f"rk{i}" / "_manifest.json").read_text())
        assert man["router"] == "explicit"
        got = {int(d.name.split("=")[1]) for d in
               (tmp_path / f"rk{i}" / "docs").iterdir()
               if d.name.startswith("bucket=")}
        assert set(man["owned_buckets"]) == got
    # the layout changed; the answer must not
    after = {d: round(s, 9)
             for _, d, s in FtShards.open(spark, kids).topk(TERMS, k=big)}
    assert after == before and victim not in after


def test_rebalance_default_plan_evens_counts(spark, setup, tmp_path):
    import shutil

    from ftidx.maintenance import rebalance_shards

    _, parent, _, _ = setup
    p3 = str(tmp_path / "p3")
    shutil.copytree(parent, p3)
    kids = [str(tmp_path / f"e{i}") for i in range(2)]
    split_index(spark, p3, kids)
    # skew shard 0: push all of shard 1's buckets onto it first
    b1 = sorted(int(d.name.split("=")[1]) for d in
                (tmp_path / "e1" / "docs").iterdir())
    rebalance_shards(spark, kids, plan={b: 0 for b in b1[:-1]})
    info = rebalance_shards(spark, kids)  # default plan evens out
    assert max(info["counts_after"]) - min(info["counts_after"]) <= 1
    assert sum(info["counts_after"]) == 8
    mono = open_index(spark, p3)
    big = 10**6
    sh = {d: round(s, 9) for _, d, s in
          FtShards.open(spark, kids).topk(TERMS, k=big)}
    mo = {d: round(s, 9) for d, s in
          mono.topk(TERMS, k=big, kernel="exhaustive")}
    assert sh == mo


def test_rebalance_refusals(spark, setup, tmp_path):
    import shutil

    from ftidx.maintenance import rebalance_shards

    _, parent, _, _ = setup
    p4 = str(tmp_path / "p4")
    shutil.copytree(parent, p4)
    kids = [str(tmp_path / f"r{i}") for i in range(2)]
    split_index(spark, p4, kids)
    with pytest.raises(ValueError, match="not owned"):
        rebalance_shards(spark, kids, plan={99: 0})
    with pytest.raises(ValueError, match="out of range"):
        rebalance_shards(spark, kids, plan={0: 5})
    with pytest.raises(ValueError, match="already lives"):
        rebalance_shards(spark, kids, plan={0: 0})
    with pytest.raises(ValueError, match="at least 2"):
        rebalance_shards(spark, kids[:1])
