"""ftidx benchmark: one seeded workload on local[4], one JSON result line.

    python3 perfbench/run.py --workload build_cold --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics named in BENCHMARK.json, ``--trace 1`` the per-layer ones (and
writes the run's spans to ``.perfbench/spans-<workload>-<seed>.jsonl``).
``--smoke`` runs every code path and gate at tiny sizes.

Stdout ends with two JSON lines: a ``record`` of the run (host load,
CPU steal, sample counts, failures) and the result object
``{"correct", "attempted", "failed", "metrics"}``.  Everything the run
writes stays under ``.perfbench/`` in the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from ftidx.session import get_spark  # noqa: E402  (fails fast without ftidx)

from perfbench import corpus, layers, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

CORES = 4


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:9]))


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc/self/status")


def cpu_loop_ms() -> float:
    """Median time of a fixed pure-Python loop: the host's speed at that
    moment, recorded so an outlier run can be explained."""
    times = []
    for _ in range(15):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(1e3 * (time.perf_counter() - t0))
    return sorted(times)[7]


def start_spark(scratch: Path):
    """local[4] session whose scratch files stay under ``scratch``."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # Python workers import ftidx and perfbench from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    return get_spark(cores=CORES, app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes: every path and gate, not a measurement")
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    sizes = corpus.SMOKE if args.smoke else corpus.FULL

    scratch = ROOT / ".perfbench"
    workdir = scratch / f"work-{os.getpid()}"
    workdir.mkdir(parents=True, exist_ok=True)
    load0, ticks0, loop0 = os.getloadavg(), cpu_ticks(), cpu_loop_ms()
    t0 = time.perf_counter()
    spark = start_spark(workdir)
    try:
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext if args.trace else None)
        run = workloads.Run(spark, sizes, args.seed, args.seconds, tracer,
                            workdir, corpus.Layout(args.seed, sizes))
        run.record["session_s"] = session_s
        run.record["warmup_s"] = run.warmup()
        idx, index_path, main_cls = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            layers.probe_all(run, idx, index_path, main_cls)
            tracer.write(scratch / f"spans-{args.workload}-{args.seed}.jsonl")
        run.e2e["driver_peak_rss_mb"] = peak_rss_mb()
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    d = [b - a for a, b in zip(ticks0, cpu_ticks())]
    values = run.layer if args.trace else run.e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    failed = len(run.failures)
    run.record.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"nproc": len(os.sched_getaffinity(0)),
                 "loadavg_start": load0, "loadavg_end": os.getloadavg(),
                 "steal_pct": 100.0 * d[7] / max(sum(d), 1),
                 "cpu_loop_ms_start": loop0, "cpu_loop_ms_end": cpu_loop_ms()},
        "fail_ratio": failed / max(run.attempted, 1),
        "failures": run.failures[:20],
    })
    if args.trace:  # traced minus untraced end-to-end = tracing overhead
        run.record["traced_end_to_end"] = run.e2e
    print(json.dumps({"record": run.record}))
    print(json.dumps({
        "correct": failed == 0, "attempted": run.attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
