"""topic() pub-sub polls: full first delivery, new-docs-only later
deliveries, empty when nothing arrived, refusal after base rewrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ftidx.index import FtIndex, build_index
from ftidx.streaming import index_microbatch, prepare_docs_hashid
from ftidx.synth import synth_source
from ftidx.topic import topic_poll


@pytest.fixture()
def base(spark, tmp_path):
    out = str(tmp_path / "idx")
    src = synth_source(spark, 80, partitions=2).cache()
    build_index(spark, src, out, n_buckets=4)
    return out, src


def _ids(df):
    return {int(r["doc_id"]) for r in df.collect()}


def test_topic_polls_deliver_each_doc_once(spark, base, tmp_path):
    out, src = base
    ck = str(tmp_path / "ck")
    idx = FtIndex(spark, out)
    terms = ["def", "alpha"]

    first = _ids(topic_poll(idx, "t1", terms, ck))
    want_base = _ids(idx._matched_ids(terms, "code.content"))
    assert first == want_base and first  # full current match set

    # nothing arrived -> empty delivery, checkpoint unchanged
    assert _ids(topic_poll(idx, "t1", terms, ck)) == set()

    # stream in new docs; only the NEW matching ones deliver
    extra = synth_source(spark, 120, partitions=2).subtract(
        synth_source(spark, 80, partitions=2))
    index_microbatch(extra, 0, out, n_buckets=4)
    idx.refresh()
    third = _ids(topic_poll(idx, "t1", terms, ck))
    live = prepare_docs_hashid(extra, 4).filter(
        (~F.col("deleted")) & F.col("content").isNotNull())
    new_matched = _ids(idx._matched_ids(terms, "code.content")) - want_base
    assert third == new_matched and third
    assert third.isdisjoint(first)

    # second epoch delivers only its own docs; earlier epochs are done
    extra2 = synth_source(spark, 150, partitions=2).subtract(
        synth_source(spark, 120, partitions=2))
    index_microbatch(extra2, 1, out, n_buckets=4)
    idx.refresh()
    fourth = _ids(topic_poll(idx, "t1", terms, ck))
    assert fourth == _ids(
        idx._matched_ids(terms, "code.content")) - first - third
    assert _ids(topic_poll(idx, "t1", terms, ck)) == set()


def test_topic_independent_subscriptions_and_fl(spark, base, tmp_path):
    out, _ = base
    ck = str(tmp_path / "ck")
    idx = FtIndex(spark, out)
    a = topic_poll(idx, "a", ["def"], ck, fl=["repo", "path"])
    assert set(a.columns) == {"doc_id", "repo", "path"}
    rows = a.collect()
    assert rows and all(r["repo"] is not None for r in rows)
    # a second topic id starts from scratch (its own checkpoint)
    b = _ids(topic_poll(idx, "b", ["def"], ck))
    assert b == {int(r["doc_id"]) for r in rows}


def test_topic_refuses_after_base_rewrite(spark, base, tmp_path):
    out, src = base
    ck = str(tmp_path / "ck")
    idx = FtIndex(spark, out)
    topic_poll(idx, "t", ["def"], ck)
    # upsert rewrites the base under a new build_id
    from ftidx.maintenance import upsert

    upsert(spark, out, src.limit(60))
    idx2 = FtIndex(spark, out)
    with pytest.raises(ValueError, match="resubscribe"):
        topic_poll(idx2, "t", ["def"], ck)
    with pytest.raises(ValueError, match="empty term"):
        topic_poll(idx2, "t", [], ck)


def _stream(spark, out, epoch, lo, hi):
    """Stream synth files [lo, hi) in as micro-batch ``epoch``."""
    batch = synth_source(spark, hi, partitions=2).subtract(
        synth_source(spark, lo, partitions=2))
    index_microbatch(batch, epoch, out, n_buckets=4)


def test_topic_refuses_after_compact_folds_unpolled_epoch(spark, base, tmp_path):
    """compact folds epoch 1 into the base before topic "t" polled it:
    the next poll refuses (its docs can no longer be told apart from
    the base) instead of returning nothing. A subscriber that first
    polls after the compaction carries on normally."""
    from ftidx.maintenance import compact

    out, _ = base
    ck = str(tmp_path / "ck")
    idx = FtIndex(spark, out)
    topic_poll(idx, "t", ["def"], ck)
    _stream(spark, out, 0, 80, 110)
    idx.refresh()
    assert _ids(topic_poll(idx, "t", ["def"], ck))  # epoch 0 delivered
    before = _ids(idx._matched_ids(["def"], "code.content"))
    _stream(spark, out, 1, 110, 140)
    idx.refresh()
    now = _ids(idx._matched_ids(["def"], "code.content"))
    assert now - before  # epoch 1 matches docs "t" has not been sent
    assert _ids(topic_poll(idx, "fresh", ["def"], ck)) == now
    compact(spark, out)
    idx.refresh()
    with pytest.raises(ValueError, match=r"folded epoch\(s\) \[1\].*resubscribe"):
        topic_poll(idx, "t", ["def"], ck)
    # "fresh" saw both epochs before they were folded
    assert _ids(topic_poll(idx, "fresh", ["def"], ck)) == set()
    # a first poll after the compaction checkpoints the folded epochs
    late = _ids(topic_poll(idx, "late", ["def"], ck))
    assert late == _ids(idx._matched_ids(["def"], "code.content"))
    _stream(spark, out, 2, 140, 170)
    idx.refresh()
    new = _ids(topic_poll(idx, "late", ["def"], ck))
    assert new and new == _ids(idx._matched_ids(["def"], "code.content")) - late


def test_topic_carries_on_after_compact_of_delivered_epochs(spark, base, tmp_path):
    """Every folded epoch was already delivered: polls after compact
    carry on — nothing re-delivers, and a later epoch delivers only
    its own docs."""
    from ftidx.maintenance import compact

    out, _ = base
    ck = str(tmp_path / "ck")
    idx = FtIndex(spark, out)
    seen = _ids(topic_poll(idx, "t", ["def"], ck))
    _stream(spark, out, 0, 80, 120)
    idx.refresh()
    seen |= _ids(topic_poll(idx, "t", ["def"], ck))
    compact(spark, out)
    idx.refresh()
    assert _ids(topic_poll(idx, "t", ["def"], ck)) == set()
    assert seen == _ids(idx._matched_ids(["def"], "code.content"))
    _stream(spark, out, 1, 120, 150)
    idx.refresh()
    new = _ids(topic_poll(idx, "t", ["def"], ck))
    assert new and new == _ids(idx._matched_ids(["def"], "code.content")) - seen


def test_topic_delivers_epochs_that_reuse_folded_ids(spark, base, tmp_path):
    """compact removes the delta dirs, so ids come back: the next tier
    merge allocates the first reserved id again, and a restarted stream
    counts from epoch 0 again. Docs under a reused id are new, both to
    a topic that first polled after the compaction and to one that had
    delivered the id's earlier docs."""
    from ftidx.maintenance import compact, merge_delta_tier

    out, _ = base
    ck = str(tmp_path / "ck")
    idx = FtIndex(spark, out)
    topic_poll(idx, "old", ["def"], ck)
    _stream(spark, out, 0, 80, 100)
    _stream(spark, out, 1, 100, 120)
    assert merge_delta_tier(spark, out, max_batches=1)["into"] == "batch=1000000000"
    idx.refresh()
    old = _ids(topic_poll(idx, "old", ["def"], ck))
    compact(spark, out)
    idx.refresh()
    late = _ids(topic_poll(idx, "late", ["def"], ck))
    assert old < late == _ids(idx._matched_ids(["def"], "code.content"))

    _stream(spark, out, 2, 120, 140)
    _stream(spark, out, 3, 140, 160)
    assert merge_delta_tier(spark, out, max_batches=1)["into"] == "batch=1000000000"
    idx.refresh()
    new = _ids(idx._matched_ids(["def"], "code.content")) - late
    assert new
    assert _ids(topic_poll(idx, "late", ["def"], ck)) == new
    assert _ids(topic_poll(idx, "old", ["def"], ck)) == new

    # fold the reused tier id too, then a restarted stream's epoch 0
    compact(spark, out)
    _stream(spark, out, 0, 160, 190)
    idx.refresh()
    newer = _ids(idx._matched_ids(["def"], "code.content")) - late - new
    assert newer
    assert _ids(topic_poll(idx, "late", ["def"], ck)) == newer
    assert _ids(topic_poll(idx, "old", ["def"], ck)) == newer
