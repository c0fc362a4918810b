"""Per-layer probes of the traced run.

Each number is timed or counted by the benchmark around a public ftidx
call (or read from ``FtIndex.metrics()``); nothing inside ``ftidx`` is
instrumented.  Probes run after the timed body and its gates.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from ftidx.codec import decode_postings, encode_many
from ftidx.synth import HOT_TERMS
from ftidx.tokenize import tokenize_tf_batch
from ftidx.wand import TermList, bm25_idf, score_block_max, score_exhaustive

from perfbench import corpus

FIELD = "code.content"
PROBE_TERMS = HOT_TERMS[:3]   # a fat query: three ~90%-df terms
PROBE_K = 10
REPEATS = 50
_ROW_COLS = ["term", "df", "doc_ids", "tfs", "dls",
             "block_max_tf", "block_min_dl", "block_last_docid"]


def _median_s(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cache_snapshot(run, idx):
    """``FtIndex.metrics()`` before the body (traced run only: it reads
    the ledger with a Spark job)."""
    return idx.metrics() if run.tracer.enabled else None


def cache_rates(run, idx, before) -> None:
    """Cache hit rates over the body, and the last build's ledger."""
    if before is None:
        return
    after = idx.metrics()
    for cache in ("term_cache", "result_cache"):
        hits = after[cache]["hits"] - before[cache]["hits"]
        misses = after[cache]["misses"] - before[cache]["misses"]
        run.layer[f"index.{cache}.hit_rate"] = hits / max(hits + misses, 1)
    ledger = after["last_build"]
    run.layer["index.ledger.postings_emitted"] = ledger["postings_emitted"]
    run.layer["index.ledger.bytes_compressed"] = ledger["bytes_compressed"]
    run.layer["index.ledger.task_s"] = ledger["task_sec_total"]
    run.layer["index.ledger.max_skew_ratio"] = ledger["max_skew_ratio"]


def postings_rows(spark, index_path: str, terms) -> tuple[list[dict], list[dict]]:
    """The index's own postings rows for ``terms``: (base rows, delta rows)."""
    def read(path):
        return [r.asDict() for r in spark.read.parquet(path)
                .filter((F.col("field") == FIELD) & F.col("term").isin(list(terms)))
                .select(_ROW_COLS).collect()]

    deltas = Path(index_path) / "deltas"
    delta_rows = read(f"{deltas}/batch=*") if deltas.exists() else []
    return read(f"{index_path}/postings"), delta_rows


def probe_kernels(run, idx, index_path: str) -> None:
    """wand kernels and codec on the index's own rows of a fat query,
    and the warm topk around the same kernel."""
    base, delta = postings_rows(run.spark, index_path, PROBE_TERMS)
    rows = base + delta
    n_docs, avgdl = idx.stats[FIELD]
    lists = []
    for t in PROBE_TERMS:
        trows = [r for r in rows if r["term"] == t]
        lists.append(TermList(t, trows, bm25_idf(n_docs, sum(r["df"] for r in trows))))
    # topk asks its kernel for k + pending tombstones, then filters them
    k = PROBE_K + idx.metrics()["tombstones_pending"]
    calls = {
        "block_max": lambda: score_block_max(lists, avgdl, k),
        "exhaustive": lambda: score_exhaustive(lists, avgdl, k),
        "topk": lambda: idx.topk(list(PROBE_TERMS), k=PROBE_K, use_cache=False),
    }
    for fn in calls.values():  # decode and cache once, as serving does
        fn()
    # interleaved, so each call sees the same host conditions
    times = {name: [] for name in calls}
    for _ in range(REPEATS):
        for name, fn in calls.items():
            t0 = time.perf_counter()
            fn()
            times[name].append(time.perf_counter() - t0)
    ms = {name: 1e3 * statistics.median(t) for name, t in times.items()}
    run.layer["wand.block_max_ms"] = ms["block_max"]
    run.layer["wand.exhaustive_ms"] = ms["exhaustive"]
    run.layer["wand.postings_per_query"] = sum(tl.df for tl in lists)
    run.layer["index.topk_overhead_ms"] = ms["topk"] - ms["block_max"]

    blobs = [(r["doc_ids"], r["tfs"], r["dls"]) for r in rows]
    nbytes = sum(len(a) + len(b) + len(c) for a, b, c in blobs)
    dec = _median_s(lambda: [decode_postings(*b) for b in blobs], 5)
    run.layer["codec.decode_mb_per_s"] = nbytes / 1e6 / dec
    arrays = [decode_postings(*b) for b in blobs]
    sizes = np.array([a[0].size for a in arrays])
    ends = np.cumsum(sizes)
    starts = ends - sizes
    ids, tfs, dls = (np.concatenate([a[j] for a in arrays]) for j in range(3))
    out = encode_many(ids, tfs, dls, starts, ends)
    out_bytes = sum(len(x) for name in ("doc_ids", "tfs", "dls") for x in out[name])
    enc = _median_s(lambda: encode_many(ids, tfs, dls, starts, ends), 5)
    run.layer["codec.encode_mb_per_s"] = out_bytes / 1e6 / enc


def probe_fetch(run, idx, markers: list[str]) -> None:
    """Cold query minus the same query re-run warm (term cache hit)."""
    diffs = []
    for m in markers:
        _, cold = run.timed("index.topk", idx.topk, [m], k=PROBE_K, use_cache=False)
        _, warm = run.timed("index.topk", idx.topk, [m], k=PROBE_K, use_cache=False)
        diffs.append(cold - warm)
    run.layer["index.fetch_ms"] = 1e3 * statistics.median(diffs)


def probe_tokenize(run) -> None:
    lay = run.layout
    sample = corpus.tokenize_sample(
        range(lay.base.start, lay.base.start + run.sizes.tokenize_rows))
    tokens = int(tokenize_tf_batch(sample)["tf"].sum())
    secs = _median_s(lambda: tokenize_tf_batch(sample), 3)
    run.layer["tokenize.docs_per_s"] = len(sample) / secs
    run.layer["tokenize.tokens_per_s"] = tokens / secs


def probe_overhead(run, idx) -> None:
    """Tracing cost per query: the same warm fat query with and without
    a span and its Spark job group, alternated."""
    terms = list(PROBE_TERMS[:2])
    plain, traced = [], []
    for i in range(2 * REPEATS):
        t0 = time.perf_counter()
        if i % 2:
            with run.tracer.span("probe.overhead", jobs=True):
                idx.topk(terms, k=PROBE_K, use_cache=False)
            traced.append(time.perf_counter() - t0)
        else:
            idx.topk(terms, k=PROBE_K, use_cache=False)
            plain.append(time.perf_counter() - t0)
    run.layer["trace.overhead_ms"] = 1e3 * (
        statistics.median(traced) - statistics.median(plain))


def probe_all(run, idx, index_path: str, main_cls: str) -> None:
    """Every per-layer metric.  Workloads without a writer stream one
    probe micro-batch last, so the write-side layers are measured on
    every workload."""
    tr = run.tracer
    run.layer["session.get_spark_s"] = run.record["session_s"]
    run.layer["synth.materialize_s"] = tr.median_ms("synth.materialize") / 1e3
    main = [s for s in tr.named("index.topk") if s.get("cls") == main_cls]
    run.layer["index.spark_jobs_per_query"] = (
        sum(s["spark_jobs"] for s in main) / max(len(main), 1))
    probe_fetch(run, idx, run.reserved[1:])
    probe_kernels(run, idx, index_path)
    probe_tokenize(run)
    probe_overhead(run, idx)
    if not tr.named("streaming.index_microbatch"):
        lay = run.layout
        group = lay.rare_terms()[-1]
        src = run.materialise(lay.batch(0), "probe_batch")
        doomed = run.deletable(idx, [group])[0]
        run.write_round(idx, index_path, 0, src, group, doomed)
    run.layer["streaming.index_microbatch_ms"] = tr.median_ms("streaming.index_microbatch")
    run.layer["index.delete_ms"] = tr.median_ms("index.delete")
    run.layer["index.refresh_ms"] = tr.median_ms("index.refresh")
    _, delta = postings_rows(run.spark, index_path, PROBE_TERMS)
    run.layer["index.delta_segments_per_term"] = len(delta) / len(PROBE_TERMS)
