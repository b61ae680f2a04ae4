"""Untimed correctness checks, run after every run.

Each check covers one operation (a tick, a landed spot or a query)
and counts as one attempt; `failed_ratio` is failed checks over
checks made. A failed check never stops the run. Every check compares
the package's output with an answer made outside the package: the
ids and gaps the generator injected, the reference's own enriched
output for the golden rows, and DuckDB running the registry's oracle
SQL over the same generated tables.
"""

from __future__ import annotations

import csv
import hashlib
from pathlib import Path

import numpy as np

import gen

MHZ_FIELD = 6  # sink column 7; see check_golden


def _sink_ids(sink: Path) -> np.ndarray:
    import pyarrow.dataset as ds

    if not sink.is_dir() or not any(sink.glob("*.parquet")):
        return np.empty(0, dtype=np.int64)
    col = ds.dataset(str(sink), format="parquet").to_table(columns=["Spotnum"])["Spotnum"]
    return col.to_numpy(zero_copy_only=False).astype(np.int64)


def _counts(ids: np.ndarray) -> dict[int, int]:
    u, c = np.unique(ids, return_counts=True)
    return dict(zip(u.tolist(), c.tolist()))


def _gap_record_ok(rec: dict, ids: list[int], prev_last: int | None) -> bool:
    gaps, missing, biggest = gen.expected_gaps(ids)
    want = {
        "n_spots": len(ids),
        "first_spotnum": min(ids),
        "last_spotnum": max(ids),
        "total_gaps": gaps,
        "total_missing": missing,
        "max_gap_size": biggest,
        "boundary_gap": None if prev_last is None else min(ids) - prev_last - 1,
    }
    return all(rec.get(k) == v for k, v in want.items())


def check_ticks(b, ticks: list[dict], sink: Path, records: list[dict]) -> None:
    """Two checks per tick: the parquet sink holds every fresh Spotnum
    of the tick exactly once, and the gap monitor's record for the
    tick's batch equals the injected gaps. Sets each tick's "durable":
    its fresh Spotnums in the sink."""
    in_sink = _counts(_sink_ids(sink))
    expected = {i for t in ticks for i in t["fresh"]}
    extra_sink = set(in_sink) - expected
    bad = {"sink": 0, "gaps": 0}
    prev_last = None
    for i, t in enumerate(ticks):
        t["durable"] = sum(1 for x in t["fresh"] if x in in_sink)
        last = i == len(ticks) - 1  # nothing but the expected ids in the end
        bad["sink"] += not (all(in_sink.get(x) == 1 for x in t["fresh"])
                            and not (last and extra_sink))
        bad["gaps"] += not (i < len(records)
                            and _gap_record_ok(records[i], t["fresh"], prev_last))
        prev_last = max(t["fresh"])
    b.attempted += len(bad) * len(ticks)
    for name, n in bad.items():
        b.fail(n, f"{name}: {n} of {len(ticks)} ticks")
    b.notes["sink_rows"] = int(sum(in_sink.values()))


def check_drain(b, drain: dict, files: list[list[int]]) -> None:
    """One backfill drain: every landed fresh Spotnum in the sink
    exactly once, nothing else there, and one gap record per batch
    that equals the injected gaps of exactly the spots in its range.
    Sets the drain's "durable": the landed fresh Spotnums in its sink."""
    fresh = np.sort(np.array([i for f in files for i in f], dtype=np.int64))
    got = _counts(_sink_ids(drain["sink"]))
    want = set(fresh.tolist())
    missing = sum(1 for x in want if x not in got)
    drain["durable"] = len(want) - missing
    dup = sum(c - 1 for c in got.values() if c > 1)
    extra = sum(c for x, c in got.items() if x not in want)
    b.attempted += 2 * len(fresh)  # sink exactly-once and gap check per spot
    b.fail(min(len(fresh), missing + dup + extra),
           f"sink: {missing} spots missing, {dup} duplicated, {extra} unexpected")
    prev_last, covered, bad = None, 0, 0
    for rec in drain["records"]:
        lo, hi = np.searchsorted(fresh, [rec["first_spotnum"], rec["last_spotnum"] + 1])
        ids = fresh[lo:hi].tolist()
        covered += len(ids)
        if not ids or not _gap_record_ok(rec, ids, prev_last):
            bad += max(1, len(ids))
        prev_last = rec["last_spotnum"]
    bad += max(0, len(fresh) - covered)
    b.fail(min(len(fresh), bad), f"gap monitor wrong for {bad} spots")


def check_golden(b, sink: Path, golden: list[dict], per_row: bool) -> None:
    """The golden rows, read back from the parquet sink and rendered by
    pipeline.write_wire_csv (to_wire + the reference's CSV shape), must
    equal tests/golden/spots_golden.csv byte for byte in every field
    but MHz. MHz is carried as a double, so the wire layer renders it
    from the number (14.0971 for the API's "14.097100"); that field is
    compared by value. One check per golden row when the operation is a
    spot (backfill), one check for the whole golden tick otherwise."""
    import tempfile

    from pyspark.sql import functions as F

    from wsprnet_scraper_spark import pipeline

    want = {row[1]: row for row in csv.reader(gen.GOLDEN_CSV.open())}
    ids = [int(s["Spotnum"]) for s in golden]
    df = b.spark.read.parquet(str(sink)).where(F.col("Spotnum").isin(ids))
    out = Path(tempfile.mkdtemp(dir=b.work))
    pipeline.write_wire_csv(df, str(out / "wire"))
    got = {}
    for part in sorted((out / "wire").glob("part-*")):
        for row in csv.reader(part.open()):
            got[row[1]] = row
    bad = 0
    for key, w in want.items():
        g = got.get(key)
        if g is None or len(g) != len(w) or any(
            (float(gv) != float(wv)) if i == MHZ_FIELD else (gv != wv)
            for i, (gv, wv) in enumerate(zip(g, w))
        ):
            bad += 1
    b.attempted += len(want) if per_row else 1
    b.fail(bad if per_row else int(bad > 0), f"golden rows differ: {bad} of {len(want)}")


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    import decimal

    if v is None or isinstance(v, (bool, int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    return str(v)


def result_digest(cols: list[str], rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the values, columns
    taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keyed = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for k in keyed:
        h.update(k.encode())
        h.update(b"\n")
    return len(keyed), h.hexdigest()


def check_queries(b, data: Path, results: dict, executions: int) -> None:
    """Each query's result (a `result_digest` taken by the workload)
    against its registry DuckDB oracle: same row count and same
    order-insensitive value hash. A wrong query fails every execution
    of it in the run."""
    import duckdb

    from wsprnet_scraper_spark.plans import ORACLE

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for name, got in results.items():
        try:
            res = con.execute(ORACLE[name])
            want = result_digest([d[0] for d in res.description], res.fetchall())
        except Exception as e:  # an oracle that cannot run checks nothing
            want = ("oracle error", repr(e)[:200])
        b.attempted += executions
        if got != want:
            b.fail(executions, f"{name}: spark {got[0]} rows, oracle {want[0]} rows, "
                               "value hashes differ")
    con.close()
