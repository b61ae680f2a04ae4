#!/usr/bin/env python3
"""Streaming-fixture phase decomposition (r14, VERDICT r13 #4).

For each strm_* entry: one warm pass at sf0.001, then N timed
end-to-end runs (builder + noop sink) at --sf with the shared fixture
phases bucketed by monkeypatched hooks:

  landing   — land_ordered_ndjson / landing-dir writes
  seed      — stores.materialized(_entry) reads + seed parquet writes
  start     — DataStreamWriter.start (source resolution + first plan)
  drain     — awaitTermination (all micro-batches)
  readback  — everything left (result read + noop execution + misc)

Per-batch StreamingQueryProgress durationMs are printed for the drain.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

PH: dict = defaultdict(float)
PROGRESS: list = []


def install_hooks():
    import wsprnet_scraper_spark.operators.stores as stores
    import wsprnet_scraper_spark.streaming.landing as landing
    from pyspark.sql.streaming import DataStreamWriter

    orig_land = landing.land_ordered_ndjson

    def timed_land(*a, **k):
        t0 = time.perf_counter()
        r = orig_land(*a, **k)
        PH["landing"] += time.perf_counter() - t0
        return r

    landing.land_ordered_ndjson = timed_land

    def timed_store(orig):
        def timed(*a, **k):
            t0 = time.perf_counter()
            r = orig(*a, **k)
            PH["seed_store"] += time.perf_counter() - t0
            return r

        return timed

    stores.materialized = timed_store(stores.materialized)
    stores.materialized_entry = timed_store(stores.materialized_entry)

    orig_start = DataStreamWriter.start

    def timed_start(self, *a, **k):
        t0 = time.perf_counter()
        q = orig_start(self, *a, **k)
        PH["start"] += time.perf_counter() - t0
        orig_await = q.awaitTermination

        def timed_await(*aa, **kk):
            t1 = time.perf_counter()
            r = orig_await(*aa, **kk)
            PH["drain"] += time.perf_counter() - t1
            try:
                for p in q.recentProgress:
                    if isinstance(p, str):
                        p = json.loads(p)
                    elif not isinstance(p, dict):
                        p = json.loads(p.json)
                    PROGRESS.append(p)
            except Exception as e:
                PROGRESS.append({"progress_hook_error": str(e)})
            return r

        q.awaitTermination = timed_await
        return q

    DataStreamWriter.start = timed_start


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from wsprnet_scraper_spark.plans import QUERIES
    from wsprnet_scraper_spark.session import get_session

    spark = get_session("strm_decomp")
    install_hooks()

    for name in args.names:
        fn = QUERIES[name]
        # warm (codegen/JIT) at the smallest SF
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        for i in range(args.runs):
            PH.clear()
            PROGRESS.clear()
            spark.sparkContext.setJobDescription(f"{name} decomp{i}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t_build = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
            t_total = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            hooked = sum(PH.values())
            print(
                f"== {name} run{i}: total={t_total:.2f}s build={t_build:.2f}s"
                f" noop={t_total - t_build:.2f}s | "
                + " ".join(f"{k}={v:.2f}" for k, v in sorted(PH.items()))
                + f" other_build={t_build - hooked:.2f}"
            )
            for p in PROGRESS:
                dur = p.get("durationMs", {})
                sinkdesc = p.get("sink", {}).get("description", "")[:40]
                rows = p.get("numInputRows")
                print(
                    f"   batch {p.get('batchId')}: rows={rows} "
                    + " ".join(f"{k}={v}" for k, v in sorted(dur.items()))
                    + f" [{sinkdesc}]"
                )
                for op in p.get("stateOperators", []) or []:
                    print(
                        f"     state: commit={op.get('commitTimeMs')}ms "
                        f"rows={op.get('numRowsTotal')} "
                        f"mem={op.get('memoryUsedBytes')}"
                    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
