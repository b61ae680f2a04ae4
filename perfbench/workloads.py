"""The three workloads: tick_ingest, backfill_drain and query_mix.

Each workload is a closed loop with one client. It has four phases:
prepare (make the seeded inputs, untimed), set-up (session start plus
an untimed warm-up; this is `setup_s`), measure (at least
`--seconds` of timed operations) and check (untimed correctness
checks; a failed check counts against the operation it covers and
never stops the run).

In a traced run (`--trace 1`) operations alternate between traced and
untraced, so the tracing overhead is the traced median minus the
untraced median over the same stretch of the run. Spans are taken
only around calls into the package's public functions, from here.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import checks
import gen
from spans import Tracer

TICK_SPOTS = 2000  # a typical scrape size; a guess (see README.md)
# generated warm-up ticks after the golden tick: a fresh JVM's ticks
# get 20-30% faster over about the first five
WARM_TICKS = 3
BACKFILL_FILES = 25  # plus the golden file: two full micro-batches
BACKFILL_FILE_SPOTS = 4000  # ~100k spots per drain
BACKFILL_FILES_PER_TRIGGER = 13  # two micro-batches of ~50k spots
QUERY_SF = 0.01
WARM_THREADS = 4  # the first query_mix pass compiles the plans concurrently
# join_geo_radius is left out: it is not bit-exact against its oracle
# (see README.md, Known defects)
QUERY_MIX = [
    "pipeline_enrich27",
    "agg_band_activity",
    "agg_geo_grid",
    "agg_gap_stats",
    "join_inner_5way",
    "agg_group_q1",
    "dedup_minhash",
    "sim_ivf",
    "text_quality",
    "strm_tumbling",
    "graph_pagerank",
]
PROGRESS_KEYS = {
    "ingest.add_batch_ms": "addBatch",
    "ingest.query_planning_ms": "queryPlanning",
    "ingest.latest_offset_ms": "latestOffset",
    "ingest.get_batch_ms": "getBatch",
    "ingest.wal_commit_ms": "walCommit",
    "ingest.commit_offsets_ms": "commitOffsets",
}


def tail(samples: list[float]) -> tuple[str, float]:
    """The highest percentile that has ten or more samples beyond it:
    the (n-10)-th smallest of n samples, labelled p<100*(n-10)/n>."""
    s = sorted(samples)
    k = len(s) - 10
    if k < 1:
        return f"max(n={len(s)})", s[-1]
    return f"p{100 * k // len(s)}", s[k - 1]


def med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Bench:
    """State shared by the phases of one run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: Path):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.tracer = Tracer(f"{workload}-s{seed}-{os.getpid()}", enabled=False)
        self.layer: dict[str, float] = {}
        self.notes: dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.landing: list[float] = []  # fetch_once seconds per landed file
        self.landed_bytes: list[int] = []

    # ------------------------------------------------------- session, jvm
    def start_session(self):
        from wsprnet_scraper_spark.session import get_session

        t = time.perf_counter()
        with self.tracer.span("session.get_session"):
            self.spark = get_session("perfbench")
        self.layer["session.get_session_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def gc_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def reset_python_peak(self) -> None:
        """Forget the Python process's memory peak so far, so that
        rss_peak_mb leaves out the inputs the benchmark made."""
        Path("/proc/self/clear_refs").write_text("5")

    def rss_peak_mb(self) -> float:
        """Peak RSS of the driver JVM plus this process since the last
        reset_python_peak; read before the checks load any output."""
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        jvm, py = _vm_hwm_kb(jvm_pid) / 1024.0, _vm_hwm_kb(os.getpid()) / 1024.0
        self.notes.update(rss_jvm_mb=jvm, rss_python_mb=py)
        return jvm + py

    def jobs(self, group: str | None = None) -> set[int]:
        """Ids of the jobs in `group` (None: jobs without a group)."""
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def tasks_of(self, job_ids) -> int:
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                stage = st.getStageInfo(sid)
                n += stage.numTasks if stage else 0
        return n

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.failures.append(why)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _vm_hwm_kb(pid: int) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def _min_ops(b: Bench) -> int:
    """A traced run alternates untraced, traced, untraced at least."""
    return 3 if b.trace else 1


def _traced_turn(b: Bench, i: int) -> bool:
    """In a traced run every second operation is traced."""
    on = b.trace and i % 2 == 1
    b.tracer.enabled = on
    return on


def _overhead(ops: list[dict]) -> float:
    """Tracing overhead: median traced minus median untraced operation.
    The run's first operation is left out; it is still warming up."""
    later = ops[1:]
    return (med(o["s"] for o in later if o["traced"])
            - med(o["s"] for o in later if not o["traced"]))


def _progress_layers(progress: list, into: dict) -> None:
    for p in progress:
        d = p.durationMs
        for name, key in PROGRESS_KEYS.items():
            into.setdefault(name, []).append(float(d.get(key, 0)))
        into.setdefault("ingest.input_rows", []).append(int(p.numInputRows))


def _sink_rows(sink: Path) -> int:
    import pyarrow.dataset as ds

    if not sink.is_dir() or not any(sink.glob("*.parquet")):
        return 0
    return ds.dataset(str(sink), format="parquet").count_rows()


# ------------------------------------------------------------ tick_ingest
def tick_ingest(b: Bench) -> dict:
    from wsprnet_scraper_spark.streaming.daemon import phase_locked_loop
    from wsprnet_scraper_spark.streaming.fetcher import Cursor, fetch_once
    from wsprnet_scraper_spark.streaming.ingest import GapMonitor, start_ingest

    traffic = gen.SpotTraffic(b.seed)
    landing, sink, ckpt = b.work / "landing", b.work / "sink", b.work / "ckpt"
    cursor = Cursor(b.work / "cursor.json")
    monitor = GapMonitor()
    ticks: list[dict] = []  # per tick: fresh ids, duration, traced flag
    acc: dict[str, list] = {}

    def one_tick(scrape: list[dict], fresh: list[int], traced: bool) -> None:
        jobs0 = b.jobs() if traced else None
        rows0 = _sink_rows(sink) if traced else 0
        t0 = time.perf_counter()
        with b.tracer.span("tick"):
            t = time.perf_counter()
            with b.tracer.span("fetcher.fetch_once"):
                fetch_once(lambda start: scrape, cursor, landing)
            t1 = time.perf_counter()
            with b.tracer.span("ingest.start_ingest"):
                q = start_ingest(
                    b.spark, str(landing), str(sink), str(ckpt), monitor=monitor,
                    available_now=True,
                )
            t2 = time.perf_counter()
            with b.tracer.span("ingest.await_termination"):
                q.awaitTermination()
        dt = time.perf_counter() - t0
        ticks.append({"fresh": fresh, "s": dt, "traced": traced, "spots": len(scrape)})
        if traced:
            # the stream thread tags its jobs with the query's run id;
            # jobs the foreachBatch callback starts from Python carry none
            jobs = (b.jobs() - jobs0) | b.jobs(str(q.runId))
            acc.setdefault("fetcher.fetch_once_s", []).append(t1 - t)
            acc.setdefault("fetcher.bytes_landed", []).append(
                max(landing.glob("*.json"), key=os.path.getmtime).stat().st_size
            )
            acc.setdefault("ingest.start_s", []).append(t2 - t1)
            acc.setdefault("ingest.batches", []).append(len(q.recentProgress))
            _progress_layers(q.recentProgress, acc)
            acc.setdefault("ingest.rows_written", []).append(_sink_rows(sink) - rows0)
            acc.setdefault("ingest.spark_jobs", []).append(len(jobs))
            acc.setdefault("ingest.spark_tasks", []).append(b.tasks_of(jobs))

    # ---- set-up: session + golden tick + warm-up ticks
    b.reset_python_peak()
    t_setup = time.perf_counter()
    b.start_session()
    golden = gen.golden_spots()
    one_tick(golden, [int(s["Spotnum"]) for s in golden], False)
    traffic.mark_sent(golden)
    for _ in range(WARM_TICKS):
        one_tick(*traffic.scrape(TICK_SPOTS), False)
    setup_s = time.perf_counter() - t_setup
    n_warm = len(ticks)
    gc0 = b.gc_s()

    # ---- measure: phase-locked loop on an injected clock; no sleeping
    timed = []

    def tick_fn(i: int) -> None:
        scrape, fresh = traffic.scrape(TICK_SPOTS)  # untimed
        one_tick(scrape, fresh, _traced_turn(b, i))
        timed.append(ticks[-1])

    phase_locked_loop(
        tick_fn, clock=lambda: 0.0, sleep=lambda s: None,
        stop=lambda: len(timed) >= _min_ops(b) and sum(t["s"] for t in timed) >= b.seconds,
    )
    b.tracer.enabled = False
    gc_s = b.gc_s() - gc0

    e2e_rss = b.rss_peak_mb()

    # ---- checks (untimed)
    checks.check_golden(b, sink, golden, per_row=False)
    checks.check_ticks(b, ticks, sink, monitor.records)

    untraced = [t["s"] for t in timed if not t["traced"]]
    label, tail_s = tail(untraced)
    wall = sum(untraced)
    spots = sum(t["durable"] for t in timed if not t["traced"])
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": med(untraced),
        "latency_tail_s": tail_s,
        "throughput_per_s": spots / wall,
        "rss_peak_mb": e2e_rss,
    }
    b.notes["op_s"] = [round(t["s"], 3) for t in timed]
    b.notes.update(tail=label, samples=len(untraced), warm_ticks=n_warm,
                   tick_p50_s=e2e["latency_p50_s"], tick_tail_s=tail_s,
                   spots_per_s=e2e["throughput_per_s"])
    if b.trace:
        for k, v in acc.items():
            b.layer[k] = med(v)
        b.layer["ingest.rows_written_ratio"] = (
            sum(acc.get("ingest.rows_written", [0])) / max(1, sum(acc.get("ingest.input_rows", [0])))
        )
        b.layer["ingest.sink_files"] = len(list(sink.glob("*.parquet")))
        b.layer["jvm.gc_s"] = gc_s
        b.layer["trace.overhead_s"] = _overhead(timed)
        b.layer["self.ingest.await_termination_s"] = med(
            b.tracer.self_by_name("ingest.await_termination")
        )
    return e2e


# --------------------------------------------------------- backfill_drain
def _land_archive(b: Bench, landing: Path, traffic: gen.SpotTraffic,
                  n_files: int) -> list[list[int]]:
    """Land the golden file and `n_files` scrapes through fetch_once
    (the backfill-from-archive mode) and give the files strictly
    increasing mtimes, so the stream source reads them in Spotnum
    order. Returns the fresh ids of each file, in landing order."""
    from wsprnet_scraper_spark.streaming.fetcher import Cursor, fetch_once

    cursor = Cursor(landing.parent / "cursor.json")
    files: list[list[int]] = []
    golden = gen.golden_spots()
    traffic.mark_sent(golden)
    base = time.time() - 10 * (n_files + 1) - 100
    for i in range(n_files + 1):
        if i == 0:
            spots, fresh = golden, [int(s["Spotnum"]) for s in golden]
        else:
            spots, fresh = traffic.scrape(BACKFILL_FILE_SPOTS)
        t = time.perf_counter()
        fetch_once(lambda start: spots, cursor, landing)
        b.landing.append(time.perf_counter() - t)
        newest = max(landing.glob("*.json"), key=os.path.getmtime)
        b.landed_bytes.append(newest.stat().st_size)
        os.utime(newest, (base + 10 * i, base + 10 * i))
        files.append(fresh)
    return files


def _drain(b: Bench, landing: Path, out: Path, acc: dict | None):
    from wsprnet_scraper_spark.streaming.ingest import GapMonitor, start_ingest

    monitor = GapMonitor()
    sink, ckpt = out / "sink", out / "ckpt"
    jobs0 = b.jobs() if acc is not None else None
    t0 = time.perf_counter()
    with b.tracer.span("drain"):
        with b.tracer.span("ingest.start_ingest"):
            q = start_ingest(
                b.spark, str(landing), str(sink), str(ckpt), monitor=monitor,
                available_now=True, max_files_per_trigger=BACKFILL_FILES_PER_TRIGGER,
            )
        t1 = time.perf_counter()
        with b.tracer.span("ingest.await_termination"):
            q.awaitTermination()
    dt = time.perf_counter() - t0
    progress = q.recentProgress
    if acc is not None:
        jobs = (b.jobs() - jobs0) | b.jobs(str(q.runId))
        acc.setdefault("ingest.spark_jobs", []).append(len(jobs))
        acc.setdefault("ingest.spark_tasks", []).append(b.tasks_of(jobs))
        acc.setdefault("ingest.start_s", []).append(t1 - t0)
        acc.setdefault("ingest.batches", []).append(len(progress))
        _progress_layers(progress, acc)
    return {"s": dt, "sink": sink, "records": monitor.records,
            "batch_ms": [float(p.durationMs.get("triggerExecution", 0)) for p in progress]}


def backfill_drain(b: Bench) -> dict:
    landing = b.work / "landing"
    # ---- prepare: land the archive before anything is timed
    files = _land_archive(b, landing, gen.SpotTraffic(b.seed), BACKFILL_FILES)
    expected_spots = sum(len(f) for f in files)
    b.reset_python_peak()

    # ---- set-up: session + one untimed drain of the whole archive. The
    # first drain of a JVM runs ~1.5x slower than the next ones; timing
    # only warm drains keeps the throughput from depending on how many
    # drains fit in --seconds.
    t_setup = time.perf_counter()
    b.start_session()
    warm = _drain(b, landing, b.work / "warm", None)
    setup_s = time.perf_counter() - t_setup
    gc0 = b.gc_s()

    # ---- measure: fresh sink + checkpoint per drain, same archive
    acc: dict[str, list] = {}
    drains = []
    i = 0
    while i < _min_ops(b) or sum(d["s"] for d in drains) < b.seconds:
        traced = _traced_turn(b, i)
        d = _drain(b, landing, b.work / f"drain{i}", acc if traced else None)
        d["traced"] = traced
        if traced:
            acc.setdefault("ingest.rows_written", []).append(_sink_rows(d["sink"]))
            acc.setdefault("ingest.sink_files", []).append(len(list(d["sink"].glob("*.parquet"))))
        drains.append(d)
        i += 1
    b.tracer.enabled = False
    gc_s = b.gc_s() - gc0
    rss = b.rss_peak_mb()

    # ---- checks (untimed): one operation per landed spot per drain
    checks.check_drain(b, warm, files)
    for d in drains:
        checks.check_drain(b, d, files)
    checks.check_golden(b, drains[-1]["sink"], gen.golden_spots(), per_row=True)

    untraced = [d for d in drains if not d["traced"]]
    batch_s = [ms / 1000.0 for d in untraced for ms in d["batch_ms"]]
    label, tail_s = tail(batch_s)
    wall = sum(d["s"] for d in untraced)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": med(batch_s),
        "latency_tail_s": tail_s,
        "throughput_per_s": sum(d["durable"] for d in untraced) / wall,
        "rss_peak_mb": rss,
    }
    b.notes["op_s"] = [round(d["s"], 3) for d in drains]
    b.notes.update(tail=label, samples=len(batch_s), drains=len(drains),
                   spots_per_drain=expected_spots, spots_per_s=e2e["throughput_per_s"])
    if b.trace:
        for k, v in acc.items():
            b.layer[k] = med(v)
        b.layer["ingest.rows_written_ratio"] = (
            sum(acc.get("ingest.rows_written", [0]))
            / max(1, sum(acc.get("ingest.input_rows", [0])))
        )
        b.layer["jvm.gc_s"] = gc_s
        b.layer["fetcher.fetch_once_s"] = med(b.landing)
        b.layer["fetcher.bytes_landed"] = med(b.landed_bytes)
        b.layer["trace.overhead_s"] = _overhead(drains)
        b.layer["self.ingest.await_termination_s"] = med(
            b.tracer.self_by_name("ingest.await_termination")
        )
        _pipeline_floor(b, landing)
        b.stop()  # free the cores and memory for the 1-core reference
        b.layer["ingest.parallel_speedup"] = e2e["throughput_per_s"] / _one_core_spots_per_s(b)
    return e2e


def _pipeline_floor(b: Bench, landing: Path) -> None:
    """Batch-mode parse and enrich over the landed archive, to noop:
    the row-proportional floor the streaming drain cannot beat."""
    from wsprnet_scraper_spark import pipeline

    b.tracer.enabled = True
    glob = str(landing / "*.json")
    for name, build in (
        ("pipeline.parse", lambda: pipeline.parse_json(b.spark, glob, multiline=False)),
        ("pipeline.enrich", lambda: pipeline.enrich(
            pipeline.with_wd_time(pipeline.parse_json(b.spark, glob, multiline=False)))),
    ):
        times = []
        for _ in range(2):
            t = time.perf_counter()
            with b.tracer.span(name):
                build().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        b.layer[f"{name}_s"] = med(times)
    b.tracer.enabled = False


def _one_core_spots_per_s(b: Bench) -> float:
    """backfill_drain once more, untraced, in a separate process with
    SPARK_GRAFT_CPUS=1; returns its spots_per_s. `--seconds 1` times a
    single warm drain, which keeps the traced run within its time limit."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1"}
    out = subprocess.run(
        [sys.executable, str(Path(__file__).resolve().parent / "run.py"),
         "--workload", "backfill_drain", "--seed", str(b.seed),
         "--seconds", "1", "--trace", "0"],
        env=env, capture_output=True, text=True, timeout=170,
    )
    if out.returncode != 0:
        raise RuntimeError(f"1-core reference run failed: {out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    b.notes["one_core"] = res
    return res["metrics"]["throughput_per_s"]["value"]


# -------------------------------------------------------------- query_mix
def query_mix(b: Bench) -> dict:
    from wsprnet_scraper_spark.plans import QUERIES

    data = b.work / "sf"
    gen.write_tables(data, b.seed, QUERY_SF)

    def run(name: str) -> None:
        QUERIES[name](b.spark, str(data)).write.format("noop").mode("overwrite").save()

    def one_pass(record: list) -> float:
        t0 = time.perf_counter()
        with b.tracer.span("pass"):
            for name in QUERY_MIX:
                t = time.perf_counter()
                with b.tracer.span(f"plans.{name}"):
                    run(name)
                record.append((name, time.perf_counter() - t))
        return time.perf_counter() - t0

    # ---- set-up: session + two untimed passes. The first builds and
    # memoizes every plan and compiles its code, four queries at a time;
    # the second runs them in order, lets the JIT settle and collects
    # the results that the check phase compares with the oracles.
    t_setup = time.perf_counter()
    b.start_session()
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        list(pool.map(run, QUERY_MIX))
    results = {}
    for name in QUERY_MIX:
        sdf = QUERIES[name](b.spark, str(data))
        results[name] = checks.result_digest(sdf.columns, [tuple(r) for r in sdf.collect()])
    setup_s = time.perf_counter() - t_setup
    b.reset_python_peak()  # leave the collected results out of rss_peak_mb
    gc0 = b.gc_s()

    passes = []
    i = 0
    while i < _min_ops(b) or sum(p["s"] for p in passes) < b.seconds:
        traced = _traced_turn(b, i)
        rec: list = []
        passes.append({"s": one_pass(rec), "q": rec, "traced": traced})
        i += 1
    b.tracer.enabled = False
    gc_s = b.gc_s() - gc0
    rss = b.rss_peak_mb()

    # ---- checks (untimed): each query's collected result against DuckDB
    checks.check_queries(b, data, results, len(passes))

    untraced = [p for p in passes if not p["traced"]]
    pass_s = [p["s"] for p in untraced]
    query_s = [s for p in untraced for _, s in p["q"]]
    label, tail_s = tail(query_s)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": med(pass_s),
        "latency_tail_s": tail_s,
        "throughput_per_s": len(query_s) / sum(pass_s),
        "rss_peak_mb": rss,
    }
    b.notes["op_s"] = [round(p["s"], 3) for p in passes]
    b.notes.update(tail=label, samples=len(query_s), passes=len(passes), mix_s=e2e["latency_p50_s"])
    if b.trace:
        for name in QUERY_MIX:
            b.layer[f"plans.{name}_s"] = med(
                s for p in passes if p["traced"] for n, s in p["q"] if n == name
            )
        b.layer["jvm.gc_s"] = gc_s
        b.layer["trace.overhead_s"] = _overhead(passes)
    return e2e


WORKLOADS = {"tick_ingest": tick_ingest, "backfill_drain": backfill_drain, "query_mix": query_mix}

