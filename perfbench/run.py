#!/usr/bin/env python3
"""The engine benchmark: one command, two gated workloads and one on demand.

    python3 perfbench/run.py --workload backfill_drain --seed 1 --seconds 16 --trace 0

Run it from the root of a source checkout. It builds nothing: the
package is imported from the checkout, and every file the run writes
lands under `.perfbench_work/` there. Human-readable lines go to
stdout first; the last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`, as listed in
BENCHMARK.json). A traced run also writes its spans and counters to
`.perfbench_work/traces/<run>.json`. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = ROOT / "BENCHMARK.json"
PACKAGE = ROOT / "wsprnet_scraper_spark"


def _env(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and size
    Spark to the cores this process may use."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # -XX:-UsePerfData: no hsperfdata file in /tmp, outside the checkout
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a 1 GiB heap holds every workload; a larger one lets the heap,
    # and with it rss_peak_mb, wander with GC timing
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")


def _stop_jvm() -> None:
    """Stop the driver JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not PACKAGE.is_dir() or not SPEC.is_file():
        print(f"no package at {PACKAGE.name}/ next to {HERE.name}/: "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    spec = json.loads(SPEC.read_text())
    import workloads

    # tick_ingest runs on demand; BENCHMARK.json lists the gated workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work_root = ROOT / ".perfbench_work"
    work = work_root / f"{args.workload}-s{args.seed}-{os.getpid()}"
    _env(work)
    sys.path.insert(0, str(ROOT))

    b = workloads.Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    t0 = time.perf_counter()
    try:
        e2e = workloads.WORKLOADS[args.workload](b)
    finally:
        b.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    attempted = max(1, b.attempted)
    e2e["ok_ratio"] = 1.0 - b.failed / attempted

    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        value = (b.layer if args.trace else e2e).get(m["name"], 0.0)
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}

    w, n = args.workload, b.notes
    print(f"{w} setup_s {e2e['setup_s']:.3f} s")
    if w == "tick_ingest":
        print(f"{w} tick_p50_s {n['tick_p50_s']:.4f} s")
        print(f"{w} tick_tail_s {n['tick_tail_s']:.4f} s ({n['tail']} of {n['samples']} ticks)")
    if w in ("tick_ingest", "backfill_drain"):
        print(f"{w} spots_per_s {n['spots_per_s']:.1f} 1/s")
    if w == "backfill_drain":
        print(f"{w} batch_p50_s {e2e['latency_p50_s']:.4f} s")
        print(f"{w} batch_tail_s {e2e['latency_tail_s']:.4f} s ({n['tail']} of {n['samples']} batches)")
    if w == "query_mix":
        print(f"{w} mix_s {n['mix_s']:.4f} s ({n['passes']} passes)")
        print(f"{w} query_tail_s {e2e['latency_tail_s']:.4f} s ({n['tail']} of {n['samples']} queries)")
    print(f"{w} failed_ratio {b.failed / attempted:.4f} ratio ({b.failed} of {attempted})")
    for f in b.failures:
        print(f"{w} failed check: {f}")
    print(f"{w} rss_peak_mb {e2e['rss_peak_mb']:.1f} MB "
          f"(JVM {n['rss_jvm_mb']:.1f}, Python {n['rss_python_mb']:.1f})")
    print(f"{w} op_s {' '.join(map(str, n['op_s']))} (every timed operation, in order)")
    print(f"{w} run_wall_s {time.perf_counter() - t0:.1f} s")
    if args.trace:
        for k in sorted(b.layer):
            print(f"{w} {k} {b.layer[k]:.6g}")
        trace_file = work_root / "traces" / f"{b.tracer.run_id}.json"
        b.tracer.write(trace_file, {"layer": b.layer, "end_to_end": e2e, "notes": n})
        print(f"{w} trace written to {trace_file.relative_to(ROOT)}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
