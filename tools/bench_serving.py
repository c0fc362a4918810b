"""Concurrent query-serving benchmark at a fat index (round-5 judge
item #4): drive the HTTP server tier with N parallel clients over a
mixed query set and report client-observed p50/p95 per query class,
aggregate QPS per concurrency level, and cache hit rates.

Query classes (synth corpus vocabulary, ftidx/synth.py):

- ``warm``      — a fixed 20-query deck repeated: queryResultCache path.
- ``cold_thin`` — never-repeated rare terms (``rareterm%05d``, df≈100):
  with df-probe routing these collect driver-side and warm the term
  cache; before it they launched a full distributed scoring job each.
- ``cold_mid``  — never-repeated ``handlerN`` pairs (df≈1M each at 32M
  files): driver-kernel territory right at the routing budget.
- ``cold_fat``  — never-repeated hot-term combos (``def``/``return``/…,
  df≈29M at 32M files): always distributed (topk_distributed).
- ``boolean``   — mode=and + '-exclusion' over fat+thin mixes.

Concurrency sweep: the same mixed workload at 1, 8, and 16 clients.
Under the old whole-server lock QPS(16) == QPS(1); with the
readers-writer lock + internally-locked FtIndex caches the hot
endpoints overlap (shared mode), so QPS should rise with clients
until the SparkContext/GIL floor.

Usage: python tools/bench_serving.py [n_files] [out_md]
Writes BENCH/SERVING.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time
import urllib.request
from datetime import datetime, timezone
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _pctl(xs: list[float], p: float) -> float:
    if not xs:
        return float("nan")
    s = sorted(xs)
    i = min(len(s) - 1, int(round(p * (len(s) - 1))))
    return s[i]


def _get(base: str, path: str, timeout: float = 600.0) -> dict:
    with urllib.request.urlopen(base + path, timeout=timeout) as r:
        return json.loads(r.read())


class Deck:
    """Thread-safe query generator: warm queries cycle a fixed list,
    cold classes draw a fresh never-seen term index per call."""

    def __init__(self, n_files: int):
        self._lock = threading.Lock()
        self._cold = 0
        self._warm_i = 0
        self.n_rare = max(1, n_files // 100)
        self.warm_deck = [
            "/search?q=def+return&k=10",
            "/search?q=value+data+result&k=10",
            "/search?q=def+value&k=10&mode=and",
            "/search?q=handler3+handler7&k=10",
            "/search?q=return+-handler5&k=10",
            "/query?q=%2Bhandler3+%2Bhandler7&k=10",
            "/search?q=def+handler11&k=10",
            "/search?q=alpha+omega&k=10",
            "/search?q=data+result&k=10&mode=and",
            "/search?q=posting+stream&k=10&field=code.ident.split",
        ]

    def _next_cold(self) -> int:
        with self._lock:
            self._cold += 1
            return self._cold

    def warm(self) -> str:
        with self._lock:
            self._warm_i += 1
            return self.warm_deck[self._warm_i % len(self.warm_deck)]

    def cold_thin(self) -> str:
        i = self._next_cold() % self.n_rare
        return f"/search?q=rareterm{i:05d}&k=10"

    def cold_mid(self) -> str:
        # one mid term (df≈1M at 32M files — inside the 2M routing
        # budget) + one thin term: the df sum stays driver-routed,
        # probing the boundary just under the distributed cutoff
        i = self._next_cold()
        return (f"/search?q=handler{i % 20}"
                f"+rareterm{i % self.n_rare:05d}&k=10")

    def cold_fat(self) -> str:
        # vary k so the result-cache key never repeats → always cold
        i = self._next_cold()
        fats = ["def", "return", "value", "data", "result"]
        a, b = fats[i % 5], fats[(i // 5) % 5]
        return f"/search?q={a}+{b}&k={10 + i % 37}"

    def boolean(self) -> str:
        i = self._next_cold()
        return (f"/search?q=def+rareterm{i % self.n_rare:05d}"
                f"&k={5 + i % 11}&mode=and")

    def fat_query_surface(self) -> str:
        # /query (qparse) over fat terms: one plan routed by the df
        # probe like /search, a required (+) clause included — kept as
        # its own class so its numbers stay comparable across runs
        i = self._next_cold()
        fats = ["def", "return", "value", "data", "result"]
        return f"/query?q=%2B{fats[i % 5]}+{fats[(i + 1) % 5]}&k={10 + i % 7}"


def run_class(base: str, fn, n: int) -> list[float]:
    out = []
    for _ in range(n):
        path = fn()
        t0 = time.monotonic()
        _get(base, path)
        out.append(time.monotonic() - t0)
    return out


def run_concurrent(base: str, deck: Deck, n_clients: int,
                   secs: float) -> dict:
    """Mixed workload (70% warm / 15% cold_thin / 10% boolean /
    5% cold_fat) for ``secs`` wall seconds at ``n_clients`` threads."""
    lat: dict[str, list[float]] = {c: [] for c in
                                   ("warm", "cold_thin", "boolean",
                                    "cold_fat")}
    errs: list[str] = []
    stop = time.monotonic() + secs
    llock = threading.Lock()

    def client(cid: int):
        j = cid
        while time.monotonic() < stop:
            j += 1
            r = j % 20
            if r < 14:
                cls = "warm"
            elif r < 17:
                cls = "cold_thin"
            elif r < 19:
                cls = "boolean"
            else:
                cls = "cold_fat"
            path = getattr(deck, cls)() if cls != "warm" else deck.warm()
            t0 = time.monotonic()
            try:
                _get(base, path)
            except Exception as e:  # pragma: no cover
                with llock:
                    errs.append(f"{cls}: {e}")
                continue
            dt = time.monotonic() - t0
            with llock:
                lat[cls].append(dt)

    ts = [threading.Thread(target=client, args=(i,))
          for i in range(n_clients)]
    t0 = time.monotonic()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    wall = time.monotonic() - t0
    total = sum(len(v) for v in lat.values())
    return {
        "clients": n_clients,
        "wall_sec": round(wall, 2),
        "requests": total,
        "qps": round(total / wall, 1),
        "errors": len(errs),
        "per_class": {
            c: {"n": len(v),
                "p50_ms": round(_pctl(v, 0.50) * 1000, 2),
                "p95_ms": round(_pctl(v, 0.95) * 1000, 2)}
            for c, v in lat.items() if v
        },
    }


def main():
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 32_000_000
    out_md = Path(sys.argv[2]) if len(sys.argv) > 2 \
        else REPO / "BENCH" / "SERVING.md"

    from ftidx.index import build_index, open_index
    from ftidx.server import FtServer
    from ftidx.session import get_spark
    from ftidx.synth import synth_source

    os.environ.setdefault("FTIDX_DRIVER_MEM", "48g")
    spark = get_spark(cores=32, app_name="bench-serving",
                      shuffle_partitions=256)
    tmp = tempfile.mkdtemp(prefix="ftidx_serving_")
    try:
        src_path = f"{tmp}/src"
        synth_source(spark, n_files, partitions=256) \
            .write.mode("overwrite").parquet(src_path)
        src = spark.read.parquet(src_path)
        idx_dir = f"{tmp}/idx"
        n_buckets = max(64, n_files // 62_500)
        t0 = time.time()
        build_index(spark, src, idx_dir, n_buckets=n_buckets,
                    hot_df_threshold=200_000, bucket_group_size=n_buckets)
        build_sec = time.time() - t0

        idx = open_index(spark, idx_dir)
        srv = FtServer(idx).start()
        base = f"http://{srv.host}:{srv.port}"
        deck = Deck(n_files)

        # single-client class baselines (cold first — order matters)
        seq = {}
        for cls, fn, n in (("cold_thin", deck.cold_thin, 30),
                           ("cold_mid", deck.cold_mid, 10),
                           ("cold_fat", deck.cold_fat, 8),
                           ("boolean", deck.boolean, 15),
                           ("fat_query_surface", deck.fat_query_surface, 3),
                           ("warm", deck.warm, 60)):
            xs = run_class(base, fn, n)
            seq[cls] = {"n": n,
                        "p50_ms": round(_pctl(xs, 0.50) * 1000, 2),
                        "p95_ms": round(_pctl(xs, 0.95) * 1000, 2)}

        sweep = [run_concurrent(base, deck, c, secs=45.0)
                 for c in (1, 8, 16)]
        metrics = _get(base, "/metrics")

        srv.stop()
        result = {
            "n_files": n_files,
            "build_sec": round(build_sec, 1),
            "files_per_sec": round(n_files / build_sec, 1),
            "driver_score_max_docs": idx._driver_score_max_docs,
            "sequential": seq,
            "concurrency_sweep": sweep,
            "qps_scaling_16v1": round(
                (sweep[2]["requests"] / sweep[2]["wall_sec"])
                / (sweep[0]["requests"] / sweep[0]["wall_sec"]), 2)
            if sweep[0]["requests"] and sweep[2]["requests"] else None,
            "term_cache": metrics.get("term_cache", {}),
            "result_cache": metrics.get("result_cache", {}),
        }
        print(json.dumps(result))

        now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%MZ")
        rows = "\n".join(
            f"| {c} | {v['n']} | {v['p50_ms']} | {v['p95_ms']} |"
            for c, v in seq.items())
        crow = "\n".join(
            "| {clients} | {requests} | {qps} | {w50} | {w95} | {t95} | {f95} |".format(
                clients=s["clients"], requests=s["requests"], qps=s["qps"],
                w50=s["per_class"].get("warm", {}).get("p50_ms", "-"),
                w95=s["per_class"].get("warm", {}).get("p95_ms", "-"),
                t95=s["per_class"].get("cold_thin", {}).get("p95_ms", "-"),
                f95=s["per_class"].get("cold_fat", {}).get("p95_ms", "-"))
            for s in sweep)
        out_md.parent.mkdir(parents=True, exist_ok=True)
        out_md.write_text(f"""# BENCH/SERVING — concurrent query serving at {n_files / 1e6:.0f}M files ({now})

One `local[32]` server process over a {n_files / 1e6:.0f}M-file index
({build_sec:.0f}s build, {n_files / build_sec:,.0f} files/s).  HTTP tier
(`ftidx.server`), client-observed latency (includes queueing).  Routing
budget DRIVER_SCORE_MAX_DOCS = {idx._driver_score_max_docs:,}:
`cold_thin`/`cold_mid` collect driver-side via the df probe, `cold_fat`
runs `topk_distributed` in the executors, `warm` hits the
queryResultCache.

## Single client, per class

| class | n | p50 ms | p95 ms |
|---|---|---|---|
{rows}

## Concurrency sweep (70% warm / 15% cold_thin / 10% boolean / 5% cold_fat, 45 s each)

| clients | requests | QPS | warm p50 | warm p95 | thin p95 | fat p95 |
|---|---|---|---|---|---|---|
{crow}

QPS scaling 16 clients vs 1: **{result['qps_scaling_16v1']}×**
(old whole-server lock ⇒ 1.0× by construction; hot endpoints now run
under the shared mode of the server's readers-writer lock with
FtIndex's caches internally locked).

Cache state after the run: term_cache {json.dumps(result['term_cache'])},
result_cache {json.dumps(result['result_cache'])}.
""")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
