"""Structured Streaming micro-batch indexing: arriving files → delta
segments → merge-on-read queries through FtIndex; tombstone routing;
restart resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ftidx.index import FtIndex
from ftidx.oracle import OracleIndex
from ftidx.streaming import prepare_docs_hashid, start_indexing_stream
from ftidx.synth import synth_source


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    return str(src), str(tmp_path / "stream_idx")


def _write_chunk(spark, src_dir, lo, hi, name):
    synth_source(spark, hi, partitions=2).filter(
        F.col("path") >= ""
    ).limit(hi).subtract(synth_source(spark, lo, partitions=2).limit(lo)) \
        .write.parquet(f"{src_dir}/{name}")


def test_stream_indexes_and_queries(spark, dirs):
    src_dir, idx_dir = dirs
    all_src = synth_source(spark, 120, partitions=2).cache()
    chunk1 = all_src.filter(F.xxhash64("path") % 2 == 0)
    chunk2 = all_src.filter(F.xxhash64("path") % 2 != 0)
    chunk1.write.parquet(f"{src_dir}/c1")

    q = start_indexing_stream(spark, f"{src_dir}/c*", idx_dir, n_buckets=4,
                              trigger_seconds=1)
    try:
        q.processAllAvailable()
        # a deltas-only index (no build, no manifest) opens and serves
        idx = FtIndex(spark, idx_dir)
        r1 = idx.topk(["def", "alpha"], k=10)
        assert r1  # chunk-1 docs queryable

        chunk2.write.mode("append").parquet(f"{src_dir}/c2")
        q.processAllAvailable()
        idx.refresh()
        r2 = idx.topk(["def", "alpha"], k=10)
    finally:
        q.stop()

    # oracle over ALL live docs with the streaming id scheme
    live = prepare_docs_hashid(all_src, 4).filter(
        (~F.col("deleted")) & F.col("content").isNotNull()
    )
    oracle = OracleIndex.from_pandas(
        live.select("doc_id", "content", "lang", "repo", "path").toPandas()
    )
    want = oracle.topk(["def", "alpha"], 10)
    assert [d for d, _ in r2] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(r2, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_deltas_only_index_docs_surfaces(spark, tmp_path):
    """A deltas-only index has no docs table: its docs surfaces answer
    as over an empty one (an absent table reads as an empty frame)
    rather than failing on the missing path, while its streamed docs
    stay queryable."""
    from ftidx.streaming import index_microbatch

    out = str(tmp_path / "deltas_only")
    index_microbatch(synth_source(spark, 120), 0, out, n_buckets=4)
    idx = FtIndex(spark, out)
    page = [d for d, _ in idx.topk(["def"], k=5)]
    assert page
    assert idx.get_doc(page[0]) is None
    assert idx.fetch_docs(page) == {}
    assert idx.facet_counts(["def"]).collect() == []
    assert idx.topk_where(["def"], "lang = 'python'").collect() == []


def test_stream_tombstones(spark, dirs):
    src_dir, idx_dir = dirs
    src = synth_source(spark, 120, partitions=2).cache()
    src.write.parquet(f"{src_dir}/c1")
    q = start_indexing_stream(spark, f"{src_dir}/c*", idx_dir, n_buckets=4,
                              trigger_seconds=1)
    try:
        q.processAllAvailable()
        idx = FtIndex(spark, idx_dir)
        r1 = idx.topk(["def"], k=5)
        victim = r1[0][0]
        # a delete arrives on the stream: same (repo, path, commit), deleted=true
        live = prepare_docs_hashid(src, 4)
        vic_row = live.filter(F.col("doc_id") == victim) \
            .select("repo", "path", "commit", "lang", "content", "modified")
        tomb = vic_row.withColumn("deleted", F.lit(True)) \
            .select("repo", "path", "commit", "lang", "content", "deleted", "modified")
        tomb.write.mode("append").parquet(f"{src_dir}/c2")
        q.processAllAvailable()
        idx.refresh()
        r2 = idx.topk(["def"], k=5)
    finally:
        q.stop()
    assert victim not in [d for d, _ in r2]


def test_redelivered_rows_not_double_indexed(spark, tmp_path):
    """At-least-once producers may re-deliver the same (repo, path,
    commit) rows in a LATER micro-batch: the cross-batch anti-join must
    drop them, or the doc lands in two delta segments and its BM25
    score double-counts."""
    from ftidx.streaming import index_microbatch

    out = str(tmp_path / "sidx")
    src = synth_source(spark, 80, partitions=2).cache()
    index_microbatch(src, 0, out, n_buckets=4)
    idx = FtIndex(spark, out)
    once = idx.topk(["def", "alpha"], k=10)

    # the whole batch arrives again as epoch 1 (plus within-batch dups)
    index_microbatch(src.union(src.limit(10)), 1, out, n_buckets=4)
    idx.refresh()
    twice = idx.topk(["def", "alpha"], k=10)
    assert [d for d, _ in twice] == [d for d, _ in once]
    for (_, a), (_, b) in zip(twice, once):
        assert a == pytest.approx(b, rel=1e-12)

    # no duplicate doc ids across delta doclen batches
    dl = spark.read.option("basePath", f"{out}/delta_doclen") \
        .parquet(f"{out}/delta_doclen/batch=*")
    per_doc_field = dl.groupBy("doc_id", "field").count() \
        .filter(F.col("count") > 1).count()
    assert per_doc_field == 0


def test_stream_restart_resumes(spark, dirs):
    """Restarting the stream must not re-index acknowledged input
    (checkpointed offsets = the reference's committed queue state)."""
    src_dir, idx_dir = dirs
    src = synth_source(spark, 60, partitions=2)
    src.write.parquet(f"{src_dir}/c1")
    q = start_indexing_stream(spark, f"{src_dir}/c*", idx_dir, n_buckets=4,
                              trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from pathlib import Path

    n_deltas_1 = len(list((Path(idx_dir) / "deltas").iterdir()))
    q2 = start_indexing_stream(spark, f"{src_dir}/c*", idx_dir, n_buckets=4,
                               trigger_seconds=1)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    n_deltas_2 = len(list((Path(idx_dir) / "deltas").iterdir()))
    assert n_deltas_2 == n_deltas_1  # nothing re-processed


def test_ftindex_serves_deltas(spark, tmp_path):
    """The serving handle answers over base + streamed deltas without
    waiting for compaction: the block-max page equals the exhaustive
    kernel's and the oracle's over base + streamed docs."""
    from ftidx.index import build_index, open_index
    from ftidx.streaming import index_microbatch

    out = str(tmp_path / "idx")
    base_src = synth_source(spark, 100)
    build_index(spark, base_src, out, n_buckets=4, hot_df_threshold=50)
    idx = open_index(spark, out)
    base_only = idx.topk(["def", "alpha"], k=10)

    extra = synth_source(spark, 140).subtract(base_src)
    index_microbatch(extra, 0, out, n_buckets=4)
    idx.refresh()
    merged = idx.topk(["def", "alpha"], k=10)
    assert merged == idx.topk(["def", "alpha"], k=10, kernel="exhaustive")
    assert merged != base_only  # streamed docs shifted the ranking

    cols = ["doc_id", "content", "lang", "repo", "path"]
    base = spark.read.parquet(f"{out}/docs").select("repo", "path", "doc_id")
    live = (base_src.filter((~F.col("deleted")) & F.col("content").isNotNull())
            .join(base, ["repo", "path"]).select(cols)
            .unionByName(prepare_docs_hashid(extra, 4).filter(
                (~F.col("deleted")) & F.col("content").isNotNull()).select(cols)))
    want = OracleIndex.from_pandas(live.toPandas()).topk(["def", "alpha"], 10)
    assert [d for d, _ in merged] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(merged, want):
        assert gs == pytest.approx(ws, rel=1e-9)


def test_windowed_counts_late_data(spark, tmp_path):
    """Watermarked event-time windows: a window is emitted exactly once
    when the watermark passes its end, and a straggler later than the
    watermark does NOT change or re-emit the finalized window."""
    from datetime import datetime

    from ftidx.streaming import run_windowed_counts

    src = tmp_path / "ev"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def ts(sec):
        return datetime(2026, 1, 1, 0, 0, 0).replace(
            minute=sec // 60, second=sec % 60)

    def key(r):
        return (r["win_start"].minute * 60 + r["win_start"].second,
                r["lang"])

    # batch 1: two docs in W1=[0,60s); one at t=200s advances the
    # watermark to 80s > 60s, so availableNow's final batch emits W1
    spark.createDataFrame(
        [(ts(0), "en"), (ts(30), "en"), (ts(200), "de")],
        "ts timestamp, lang string",
    ).write.parquet(f"{src}/b1")
    out1 = {key(r): r["n_docs"] for r in
            run_windowed_counts(spark, f"{src}/b*", ckpt)}
    assert out1 == {(0, "en"): 2}  # only W1 finalized; t=200s window open

    # batch 2: a LATE straggler into W1 (t=40s < watermark 80s →
    # dropped, W1 already emitted + purged) plus a fresh event at
    # t=500s (watermark → 380s, finalizing the [180,240) window)
    spark.createDataFrame(
        [(ts(40), "en"), (ts(500), "en")],
        "ts timestamp, lang string",
    ).write.mode("append").parquet(f"{src}/b2")
    out2 = {key(r): r["n_docs"] for r in
            run_windowed_counts(spark, f"{src}/b*", ckpt)}
    # no W1 re-emit (late row dropped), the t=200s window finalized,
    # t=500s's own window still open
    assert out2 == {(180, "de"): 1}


def test_repo_totals_stateful_stream(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: per-repo totals
    accumulate across micro-batches AND across availableNow restarts
    (state lives in the checkpoint, not the session)."""
    from ftidx.streaming import run_repo_totals

    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt2")

    spark.createDataFrame(
        [("r1", "a.py", "aaaa"), ("r1", "b.py", "bb"), ("r2", "c.py", "c")],
        "repo string, path string, content string",
    ).write.parquet(f"{src}/b1")
    out1 = {r["repo"]: (r["n_docs"], r["n_bytes"]) for r in
            run_repo_totals(spark, f"{src}/b*", ckpt)}
    assert out1 == {"r1": (2, 6), "r2": (1, 1)}

    # second run: r1 grows, r3 appears, r2 silent (no row emitted)
    spark.createDataFrame(
        [("r1", "d.py", "ddd"), ("r3", "e.py", None)],
        "repo string, path string, content string",
    ).write.mode("append").parquet(f"{src}/b2")
    out2 = {r["repo"]: (r["n_docs"], r["n_bytes"]) for r in
            run_repo_totals(spark, f"{src}/b*", ckpt)}
    assert out2["r1"] == (3, 9)   # cumulative across runs
    assert out2["r3"] == (1, 0)   # null content counts 0 bytes
    assert "r2" not in out2       # untouched groups stay silent


def test_dedup_stream(spark, tmp_path):
    """Watermarked streaming dedup: first arrival of each content key
    emitted once; in-batch duplicates collapse; a duplicate delivered
    in a LATER run (within the horizon, across the checkpoint) is
    suppressed; new content still flows."""
    from datetime import datetime

    from ftidx.streaming import run_dedup_stream

    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def ts(sec):
        return datetime(2026, 1, 1, 0, 0, 0).replace(
            minute=sec // 60, second=sec % 60)

    # batch 1: A twice (in-batch dup), B once
    spark.createDataFrame(
        [(ts(0), "r1", "A-content"), (ts(5), "r2", "A-content"),
         (ts(10), "r3", "B-content")],
        "ts timestamp, repo string, content string",
    ).write.parquet(f"{src}/b1")
    out1 = run_dedup_stream(spark, f"{src}/b*", ckpt)
    got1 = sorted(r["content"] for r in out1)
    assert got1 == ["A-content", "B-content"]

    # batch 2 (same checkpoint): A re-delivered within the horizon →
    # suppressed; C is new → emitted
    spark.createDataFrame(
        [(ts(20), "r4", "A-content"), (ts(25), "r5", "C-content")],
        "ts timestamp, repo string, content string",
    ).write.mode("append").parquet(f"{src}/b2")
    out2 = run_dedup_stream(spark, f"{src}/b*", ckpt)
    assert sorted(r["content"] for r in out2) == ["C-content"]


def test_trending_terms_stream(spark, tmp_path):
    """Streaming trending terms: finalized windows emit their top-N
    terms exactly once (append mode), ranked (count DESC, term ASC);
    late stragglers into an emitted window are dropped."""
    from datetime import datetime

    from ftidx.streaming import run_trending_terms

    src = tmp_path / "tt"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_tt")

    def ts(sec):
        return datetime(2026, 1, 1, 0, 0, 0).replace(
            minute=sec // 60, second=sec % 60)

    # W1=[0,60s): spark×3, merge×2, window×1, rare×1 → top-3 is
    # spark, merge, then 'rare'/'window' tie broken by term asc
    spark.createDataFrame(
        [(ts(0), "spark spark merge"), (ts(30), "spark merge window rare"),
         (ts(200), "later doc")],
        "ts timestamp, content string",
    ).write.parquet(f"{src}/b1")
    out1 = run_trending_terms(spark, f"{src}/b*", ckpt, top_n=3)
    assert [(r["term"], r["n"], r["rank"]) for r in out1] == \
        [("spark", 3, 1), ("merge", 2, 2), ("rare", 1, 3)]
    assert all(r["win_start"] == ts(0) for r in out1)

    # late straggler into W1 → dropped; fresh event finalizes the
    # t=200s window
    spark.createDataFrame(
        [(ts(40), "spark spam spam"), (ts(500), "beyond")],
        "ts timestamp, content string",
    ).write.mode("append").parquet(f"{src}/b2")
    out2 = run_trending_terms(spark, f"{src}/b*", ckpt, top_n=3)
    assert all(r["win_start"] != ts(0) for r in out2)  # no W1 re-emit
    w200 = [(r["term"], r["n"]) for r in out2 if r["win_start"] == ts(180)]
    assert w200 == [("doc", 1), ("later", 1)]


def test_streamed_docs_phrase_queryable(spark, tmp_path):
    """Solr soft-commit parity for phrases: a doc ingested via the
    streaming path is phrase-queryable BEFORE compaction (positional
    delta segments union into the serving handle) and stays queryable
    after compact folds them into the base positions table."""
    from datetime import datetime

    from ftidx.index import build_index, open_index
    from ftidx.maintenance import compact
    from ftidx.schema import SOURCE_SCHEMA
    from ftidx.streaming import index_microbatch

    out = str(tmp_path / "idx")
    build_index(spark, synth_source(spark, 100), out, n_buckets=4,
                hot_df_threshold=50, positions=True)
    idx = open_index(spark, out)
    assert idx.phrase_topk(["zebra", "quantum", "lattice"]) == []

    extra = spark.createDataFrame(
        [("orgx/projx", "src/x/phrasefile.py", "c" * 40, "python",
          "zebra quantum lattice\nalpha beta", False,
          datetime(2024, 3, 1, 12, 0)),
         ("orgx/projx", "src/x/other.py", "d" * 40, "python",
          "lattice quantum zebra backwards", False,
          datetime(2024, 3, 1, 12, 1))],
        SOURCE_SCHEMA)
    index_microbatch(extra, 0, out, n_buckets=4)
    assert (tmp_path / "idx" / "delta_positions" / "batch=0").exists()

    idx.refresh()
    hits = idx.phrase_topk(["zebra", "quantum", "lattice"])
    assert len(hits) == 1  # only the in-order doc; the reversed one misses
    phrase_doc, score_before = hits[0]
    assert score_before > 0
    # same-epoch replay is idempotent (overwrite-own-delta)
    index_microbatch(extra, 0, out, n_buckets=4)
    idx.refresh()
    assert idx.phrase_topk(["zebra", "quantum", "lattice"]) == hits

    compact(spark, out)
    idx.refresh()
    after = idx.phrase_topk(["zebra", "quantum", "lattice"])
    assert after == [(phrase_doc, score_before)]
    assert not (tmp_path / "idx" / "delta_positions").exists()
    # base-built phrases still served from the folded table
    assert idx.phrase_topk(["zebra", "quantum"]) == [(phrase_doc, pytest.approx(
        idx.phrase_topk(["zebra", "quantum"])[0][1]))]


def test_session_windows_merge_close_and_late_drop(spark, tmp_path):
    """Streaming session windows: events within the gap merge into one
    session (end = last event + gap), a quiet period closes it
    (emitted exactly once when the watermark passes), a later burst
    opens a NEW session, and a sub-watermark straggler can't reopen a
    closed session."""
    from datetime import datetime

    from ftidx.streaming import run_session_counts

    src = tmp_path / "sess"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def ts(sec):
        return datetime(2026, 1, 1, 0, sec // 60, sec % 60)

    # r1: events at 0s and 100s — one session (gap 3 min merges them),
    # spanning [0, 100+180). An event at 1000s advances the watermark
    # (10 min short) far enough? 1000-120(wm 2min)=880 > 280 → closes it.
    spark.createDataFrame(
        [(ts(0), "r1"), (ts(100), "r1"), (ts(1000), "r2")],
        "ts timestamp, repo string",
    ).write.parquet(f"{src}/b1")
    out1 = run_session_counts(spark, f"{src}/b*", ckpt,
                              gap="3 minutes", watermark="2 minutes")
    assert [(r["repo"], r["n_events"],
             r["sess_start"].minute * 60 + r["sess_start"].second,
             r["sess_end"].minute * 60 + r["sess_end"].second)
            for r in out1] == [("r1", 2, 0, 280)]

    # b2: straggler at 150s (< watermark 880s → dropped, session
    # already closed); r2 burst at 1900s closes r2's 1000s session
    # ([1000, 1180)) since wm → 1780
    spark.createDataFrame(
        [(ts(150), "r1"), (ts(1900), "r2")],
        "ts timestamp, repo string",
    ).write.mode("append").parquet(f"{src}/b2")
    out2 = run_session_counts(spark, f"{src}/b*", ckpt,
                              gap="3 minutes", watermark="2 minutes")
    assert [(r["repo"], r["n_events"],
             r["sess_start"].minute * 60 + r["sess_start"].second)
            for r in out2] == [("r2", 1, 1000)]
