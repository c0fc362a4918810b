"""The three workloads: set-up, timed body and correctness gates.

Every workload reports the same end-to-end metrics (see README.md for
what each one means per workload); the traced run adds the per-layer
probes in ``layers.py``.
"""

from __future__ import annotations

import random
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path

from pyspark import InheritableThread
from pyspark.sql import functions as F

from ftidx.index import build_index, open_index
from ftidx.streaming import index_microbatch
from ftidx.synth import MID_TERMS

from perfbench import corpus, layers
from perfbench.trace import JobCounter, Tracer

N_BUCKETS = 4            # one bucket per core of local[4]
HOT_DF_THRESHOLD = 100_000
PAGE_CHECK_EVERY = 8     # serve_warm / ingest_serve: every 8th page vs exhaustive
DELETES_PER_ROUND = 10
RESERVED_MARKERS = 6     # base markers kept out of every stream (visibility + probes)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, round(q / 100 * len(s)) - 1))]


class Run:
    """State of one benchmark run: engine handle, counters and results."""

    def __init__(self, spark, sizes: corpus.Sizes, seed: int, seconds: float,
                 tracer: Tracer, workdir: Path, layout: corpus.Layout):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sizes = sizes
        self.seconds = seconds
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.workdir = workdir
        self.layout = layout
        # base markers kept out of every stream: set-up visibility + probes
        self.reserved = layout.base_markers()[-RESERVED_MARKERS:]
        self._lock = threading.Lock()  # the ingest reader and writer both count
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.record: dict = {}

    # -- bookkeeping -------------------------------------------------------
    def count(self, ops: int = 1, failure: str | None = None) -> None:
        """Record ``ops`` attempted operations, one of them failed if
        ``failure`` names why."""
        with self._lock:
            self.attempted += ops
            if failure is not None:
                self.failures.append(failure)

    def check(self, ok: bool, what: str) -> None:
        """One correctness gate: counts as attempted, and failed if not ok."""
        self.count(failure=None if ok else what)

    def timed(self, name: str, fn, *args, **kwargs):
        """Call fn inside a span; return (result, seconds)."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            return out, time.perf_counter() - t0

    def path(self, name: str) -> str:
        return str(self.workdir / name)

    # -- engine calls ------------------------------------------------------
    def materialise(self, ids: range, name: str) -> str:
        out = self.path(name)
        self.timed("synth.materialize",
                   lambda: corpus.source_frame(self.spark, ids).write.parquet(out))
        return out

    def materialise_batches(self, rounds: int, name: str) -> list[str]:
        """Every streamed batch in one job, one directory per batch."""
        out = self.path(name)
        start = self.layout.batch(0).start
        file_id = F.regexp_extract("path", r"file(\d+)\.", 1).cast("long")

        def write():
            (corpus.source_frame(self.spark, range(start, self.layout.batch(rounds - 1).stop))
             .withColumn("b", ((file_id - start) / self.sizes.batch_files).cast("int"))
             .write.partitionBy("b").parquet(out))

        self.timed("synth.materialize", write)
        return [f"{out}/b={b}" for b in range(rounds)]

    def build(self, src: str, name: str) -> tuple[str, float]:
        out = self.path(name)
        _, secs = self.timed(
            "index.build_index", build_index, self.spark,
            self.spark.read.parquet(src), out,
            n_buckets=N_BUCKETS, hot_df_threshold=HOT_DF_THRESHOLD)
        self.count()
        return out, secs

    def marker_visible(self, idx, marker: str) -> None:
        page, _ = self.timed("index.topk", idx.topk, [marker], k=5)
        self.count()
        self.check(len(page) == 1, f"marker {marker} returned {len(page)} docs")

    def warm_terms(self, idx, terms: list[str]) -> None:
        """Fetch and decode ``terms`` into the term cache (one Spark job);
        the exhaustive kernel decodes every row it touches."""
        self.timed("index.topk", idx.topk, sorted(set(terms)), k=1,
                   kernel="exhaustive", use_cache=False)

    # -- set-up ------------------------------------------------------------
    def warmup(self) -> float:
        """Fixed small build that starts the Python workers; not timed
        as a build."""
        t0 = time.perf_counter()
        src = self.materialise(self.layout.warmup, "warmup_src")
        self.build(src, "warmup_idx")
        return time.perf_counter() - t0

    def setup_index(self, vocab: list[str] = (), batches: int = 0) -> dict:
        """The set-up every workload shares, run ``setup_reps`` times:
        materialise the base corpus (and ``batches`` streamed batches),
        build it, open it, query a reserved marker, and load ``vocab``
        into the term cache.  The last rep's products are returned.

        setup_s = session + warm-up + median(rep).  The build rate and
        the freshness lag (build start to the marker page) are medians
        over the reps' builds."""
        reps, builds, lags = [], [], []
        for r in range(self.sizes.setup_reps):
            t0 = time.perf_counter()
            src = self.materialise(self.layout.base, f"base_src{r}")
            batch_srcs = (self.materialise_batches(batches, f"batches{r}")
                          if batches else [])
            t1 = time.perf_counter()
            index_path, build_s = self.build(src, f"base_idx{r}")
            idx, _ = self.timed("index.open_index", open_index, self.spark, index_path)
            self.marker_visible(idx, self.reserved[0])
            lags.append(time.perf_counter() - t1)
            builds.append(build_s)
            if vocab:
                self.warm_terms(idx, vocab)
            reps.append(time.perf_counter() - t0)
        self.record["setup_reps_s"] = reps
        self.record["build_s"] = builds
        self.e2e["setup_s"] = (self.record["session_s"] + self.record["warmup_s"]
                               + statistics.median(reps))
        self.e2e["write_files_per_s"] = self.sizes.base_files / statistics.median(builds)
        self.e2e["visible_p50_ms"] = 1e3 * statistics.median(lags)
        self.layer["index.build_index_s"] = statistics.median(builds)
        src_bytes = self.spark.read.parquet(src).agg(
            F.sum(F.octet_length("content"))).first()[0]
        idx_bytes = sum(p.stat().st_size for p in Path(index_path).rglob("*")
                        if p.is_file() and not p.name.startswith("."))
        self.e2e["index_bytes_per_source_byte"] = idx_bytes / src_bytes
        return {"idx": idx, "index_path": index_path, "src": src,
                "batches": batch_srcs}

    # -- reads -------------------------------------------------------------
    def query(self, idx, cls: str, terms: list[str], k: int):
        """One served query: (page or None on an exception, ms, Spark
        jobs counted by its span — 0 when untraced)."""
        t0 = time.perf_counter()
        failure = None
        with self.tracer.span("index.topk", jobs=True, cls=cls) as span:
            try:
                page = idx.topk(terms, k=k)
            except Exception as exc:  # the loop must go on; counted as failed
                page = None
                failure = f"{cls} {terms}: {type(exc).__name__}: {exc}"
        self.count(failure=failure)
        return page, 1e3 * (time.perf_counter() - t0), span.get("spark_jobs", 0)

    def page_matches(self, idx, terms, k, page) -> bool:
        """Served page == the exhaustive kernel's page: same (score DESC,
        doc_id ASC) order, scores within 1e-9."""
        ref = idx.topk(terms, k=k, kernel="exhaustive", use_cache=False)
        return len(ref) == len(page) and all(
            a[0] == b[0] and abs(a[1] - b[1]) <= 1e-9 for a, b in zip(page, ref))

    def closed_loop(self, idx, stream: list, until=None, gen=None) -> dict:
        """One client: send the next query when the last one returns,
        for ``seconds`` (or until ``until()``) or until the stream is
        used up.  Pages are kept for ``check_pages``; with a writer's
        ``gen`` they are gated in the loop instead (every
        PAGE_CHECK_EVERY-th, outside the timed call, when no write
        changed the index between the page and its reference).  The
        Spark jobs the loop launches are counted under one job group,
        or by each query's span when tracing."""
        if until is None:
            deadline = time.perf_counter() + self.seconds
            until = lambda: time.perf_counter() >= deadline  # noqa: E731
        lat: dict[str, list[float]] = defaultdict(list)
        served = []
        span_jobs = 0
        jobs = JobCounter(self.sc, "reader")
        jobs.start()
        t0 = time.perf_counter()
        try:
            for n, (cls, terms, k) in enumerate(stream):
                if until():
                    break
                g0 = gen.value if gen is not None else None
                page, ms, n_jobs = self.query(idx, cls, terms, k)
                span_jobs += n_jobs
                if page is None:
                    continue
                lat[cls].append(ms)
                if gen is None:
                    served.append((terms, k, page))
                elif n % PAGE_CHECK_EVERY == 0:
                    ok = self.page_matches(idx, terms, k, page)
                    if g0 % 2 == 0 and gen.value == g0:
                        self.check(ok, f"page {terms} k={k} differs from exhaustive")
        finally:
            wall = time.perf_counter() - t0
            n_jobs = jobs.stop() + span_jobs
        self.record["stream_left"] = len(stream) - sum(map(len, lat.values()))
        self.record["reader_spark_jobs"] = n_jobs
        return {"lat": lat, "served": served, "wall": wall, "jobs": n_jobs}

    def check_pages(self, idx, served: list, every: int) -> None:
        for terms, k, page in served[self.rng.randrange(every)::every]:
            self.check(self.page_matches(idx, terms, k, page),
                       f"page {terms} k={k} differs from exhaustive")

    def latency_metrics(self, loop: dict, main: str) -> None:
        lat = loop["lat"]
        # p75, not the median: the host switches between two speeds, and
        # a class's median lands between the two modes (see README.md)
        for name, cls in (("query", main), ("thin", "thin")):
            self.e2e[f"{name}_p75_ms"] = percentile(lat[cls], 75)
            self.e2e[f"{name}_p90_ms"] = percentile(lat[cls], 90)
        self.record["query_qps"] = sum(map(len, lat.values())) / loop["wall"]
        self.record["samples"] = {c: len(v) for c, v in lat.items()}
        self.record["latency_ms"] = {
            c: {**{f"p{q}": percentile(v, q) for q in (10, 25, 50, 75, 90)},
                "mean": statistics.fmean(v)} for c, v in lat.items()}

    def check_docs_sha(self, index_path: str, src: str) -> None:
        """Per-row invariant: the docs table's content_sha256 equals the
        sha256 of the source row's content, and no row is missing."""
        docs = self.spark.read.parquet(f"{index_path}/docs").select(
            "repo", "path", "commit", "content_sha256")
        src_df = self.spark.read.parquet(src).select(
            "repo", "path", "commit", F.sha2("content", 256).alias("sha"))
        bad = (src_df.join(docs, ["repo", "path", "commit"], "full_outer")
               .filter(~F.col("sha").eqNullSafe(F.col("content_sha256"))).count())
        self.check(bad == 0, f"{bad} docs rows with a wrong or missing content_sha256")

    # -- writes ------------------------------------------------------------
    def deletable(self, idx, groups: list[str]) -> list[list[int]]:
        """For each rare-term group, DELETES_PER_ROUND of its live ids."""
        out = []
        for g in groups:
            ids = sorted(d for d, _ in idx.topk([g], k=200, use_cache=False))
            out.append(self.rng.sample(ids, DELETES_PER_ROUND))
        return out

    def write_round(self, idx, index_path: str, r: int, batch_src: str,
                    group: str, doomed: list[int], gen=None) -> float:
        """Stream one micro-batch, delete ids, refresh, query the batch's
        marker.  Returns seconds from micro-batch start to the marker
        page (the freshness lag); gates run after that, untimed."""
        marker = self.layout.batch_marker(r)
        t0 = time.perf_counter()
        self.timed("streaming.index_microbatch", index_microbatch,
                   self.spark.read.parquet(batch_src), r, index_path,
                   n_buckets=N_BUCKETS)
        if gen is not None:
            gen.begin()
        self.timed("index.delete", idx.delete, doomed)
        self.timed("index.refresh", idx.refresh)
        if gen is not None:
            gen.end()
        page, _ = self.timed("index.topk", idx.topk, [marker], k=5)
        lag = time.perf_counter() - t0
        self.count(4)
        self.check(len(page) == 1, f"round {r}: marker {marker} returned {len(page)} docs")
        after = {d for d, _ in idx.topk([group], k=200, use_cache=False)}
        self.check(not after & set(doomed), f"round {r}: deleted ids still served")
        return lag


class Generation:
    """Even while the served index is stable, odd while the writer is
    changing it: a reader compares before/after to know whether its
    page and the reference page saw the same index."""

    def __init__(self):
        self._n = 0
        self._lock = threading.Lock()

    def begin(self):
        with self._lock:
            self._n += 1

    end = begin

    @property
    def value(self) -> int:
        with self._lock:
            return self._n


# --- workloads -------------------------------------------------------------

def build_cold(run: Run):
    """Set-up builds the index; body: a closed loop of queries on
    never-queried terms, each followed by a warm re-run with another k
    (the ``thin`` class)."""
    lay = run.layout
    markers = lay.base_markers()[:-RESERVED_MARKERS]
    s = run.setup_index()
    idx = s["idx"]
    stream = []
    for cls, terms, k in corpus.cold_stream(run.rng, lay.rare_terms() + markers):
        stream += [(cls, terms, k), ("thin", terms, k + 1 if k < 50 else k - 1)]
    before = layers.cache_snapshot(run, idx)
    loop = run.closed_loop(idx, stream)
    layers.cache_rates(run, idx, before)
    n_cold = len(loop["lat"]["cold"])
    run.check(loop["jobs"] >= n_cold,
              f"{n_cold} cold queries ran only {loop['jobs']} Spark jobs")
    run.latency_metrics(loop, "cold")
    run.check_pages(idx, loop["served"], 1)
    run.check_docs_sha(s["index_path"], s["src"])
    return idx, s["index_path"], "cold"


def serve_warm(run: Run):
    """Body: closed loop alternating fat and thin queries against a term
    cache that already holds every term of the stream; no key repeats."""
    fat = corpus.fat_stream(run.rng)
    thin = corpus.thin_stream(run.rng, run.layout.rare_terms()[:50])
    s = run.setup_index(vocab=sorted({t for _, q, _ in fat + thin for t in q}))
    idx = s["idx"]
    before = layers.cache_snapshot(run, idx)
    loop = run.closed_loop(idx, corpus.interleave(fat, thin))
    layers.cache_rates(run, idx, before)
    run.check(loop["jobs"] == 0, f"warm reader ran {loop['jobs']} Spark jobs")
    run.latency_metrics(loop, "fat")
    run.check_pages(idx, loop["served"], PAGE_CHECK_EVERY)
    run.check_docs_sha(s["index_path"], s["src"])
    return idx, s["index_path"], "fat"


def ingest_serve(run: Run):
    """Body: a writer thread streams micro-batches (index_microbatch,
    delete, refresh, marker query) while one reader runs fat and thin
    queries on the same FtIndex."""
    lay = run.layout
    rounds = run.sizes.ingest_rounds
    rare = lay.rare_terms()
    # few distinct thin terms, so the cold fetches after each refresh
    # stay a small share of the thin class
    reader_rare, doomed_groups = rare[:4], rare[4:4 + rounds]
    fat = corpus.fat_stream(run.rng)
    thin = corpus.thin_stream(run.rng, reader_rare, MID_TERMS[:10])
    vocab = sorted({t for _, q, _ in fat + thin for t in q})
    s = run.setup_index(vocab=vocab, batches=rounds)
    idx, index_path = s["idx"], s["index_path"]
    doomed = run.deletable(idx, doomed_groups)

    gen = Generation()
    done = threading.Event()
    result = {}

    def reader():
        result["loop"] = run.closed_loop(
            idx, corpus.interleave(fat, thin), done.is_set, gen)

    before = layers.cache_snapshot(run, idx)
    thread = InheritableThread(target=reader)
    thread.start()
    lags = []
    try:
        for r in range(rounds):
            lags.append(run.write_round(idx, index_path, r, s["batches"][r],
                                        doomed_groups[r], doomed[r], gen))
    finally:
        done.set()
        thread.join()
    layers.cache_rates(run, idx, before)
    # the writes here are streamed: they replace the set-up build's figures
    run.e2e["write_files_per_s"] = rounds * run.sizes.batch_files / sum(lags)
    run.e2e["visible_p50_ms"] = 1e3 * statistics.median(lags)
    run.record["visible_ms"] = [1e3 * x for x in lags]
    run.latency_metrics(result["loop"], "fat")
    run.check_docs_sha(index_path, s["src"])
    return idx, index_path, "fat"


WORKLOADS = {"build_cold": build_cold, "serve_warm": serve_warm,
             "ingest_serve": ingest_serve}

