"""Seeded input generator for the benchmark.

Everything the package sees is made here from one seed: API-shaped
WSPR spots for the two write workloads and a small TPC-H-shaped
table set for the read workload. The same seed gives the same bytes.

Where the spot traffic's shape comes from. The only API-shaped spots
in the repository are the 400 rows of tests/golden/spots_input.json
(a test fixture, not a capture of live traffic; the reference produced
their enriched output). Every property that sample shows is taken from
it, by drawing from the sample itself:

- every value is a string and each spot carries an unknown extra key,
  as in the sample: the parser must keep the reference's key whitelist;
- each spot's dB, MHz, Power, Drift, distance, azimuth, Band, version
  and code are drawn, column by column, from the sample's values. So
  the band-table hit/miss mix is the sample's: 40 of its 400 rows land
  on band 9999 in spots_golden.csv;
- each locator copies the shape of a sample locator: its length (4 or
  6; 27% of the sample's reporter grids and 29% of its callsign grids
  have 4 characters) and the case of each subsquare letter (upper,
  lower and mixed about a third each);
- Spotnum gaps: a scrape of n spots has round((n-1) * 36/399) holes,
  the sample's gap rate, and each hole's size is drawn from the
  sample's 36 gap sizes (2 to 47). The count is exact, so the gap
  monitor has an exact expected answer.

From BASELINE.md: the daemon scrapes three times per 120 s WSPR cycle
(offsets 55/85/115 s), and a scrape holds spots of 1-2 cycles. So the
cycle moves on every third scrape and a spot's Date is the current or
the previous cycle.

Guesses, because the sample has one spot per station and no re-sends:
reporter and callsign popularity follow a Zipf-like law (exponents 1.1
and 1.0, over 2,000 reporters and 12,000 callsigns), so string columns
repeat; half of a scrape's spots carry the previous cycle's Date; and
about 1% of each scrape re-sends spots of the last two scrapes, which
the sink already holds, so the idempotent sink must absorb them and
the anti-join does real work for them.

The 400 sample rows themselves also ride along as the first tick/file.
"""

from __future__ import annotations

import json
from collections import deque
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parents[1]
GOLDEN_INPUT = REPO / "tests" / "golden" / "spots_input.json"
GOLDEN_CSV = REPO / "tests" / "golden" / "spots_golden.csv"

# columns drawn one by one from the sample's values
SAMPLED_KEYS = ("dB", "MHz", "Power", "Drift", "distance", "azimuth", "Band", "version", "code")
SCRAPES_PER_CYCLE = 3  # offsets 55/85/115 s of the 120 s cycle
PREV_CYCLE_SHARE = 0.5  # guess
RESEND_SHARE = 0.01  # guess
RESEND_WINDOW = 2  # guess: re-sends repeat spots of the last two scrapes
ZIPF_REPORTERS, ZIPF_CALLS = 1.1, 1.0  # guess
FIRST_SPOTNUM = 2_000_000
EPOCH0 = 1_755_043_200  # 2025-08-13 00:00 UTC, on a 120 s WSPR cycle


def golden_spots() -> list[dict]:
    return json.loads(GOLDEN_INPUT.read_text())


def _locator(rng: np.random.Generator, like: str) -> str:
    """A random locator with the length and subsquare case of `like`."""
    loc = chr(65 + rng.integers(18)) + chr(65 + rng.integers(18)) + f"{rng.integers(10)}{rng.integers(10)}"
    for ch in like[4:6]:
        loc += chr((65 if ch.isupper() else 97) + rng.integers(24))
    return loc


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class SpotTraffic:
    """Seeded source of API-shaped scrapes with known gaps and re-sends.

    `scrape(n)` returns the next scrape, `n` fresh spots plus ~1%
    re-sent ones, and the fresh Spotnums the correctness checks expect.
    """

    def __init__(self, seed: int, n_reporters: int = 2000, n_calls: int = 12000):
        self.rng = np.random.default_rng(seed)
        rng = self.rng
        sample = golden_spots()
        self.values = {k: [s[k] for s in sample] for k in SAMPLED_KEYS}
        ids = np.sort(np.array([int(s["Spotnum"]) for s in sample]))
        holes = np.diff(ids) - 1
        self.gap_sizes = holes[holes > 0]
        self.gap_rate = self.gap_sizes.size / holes.size
        rep_like = rng.choice([s["ReporterGrid"] for s in sample], n_reporters)
        call_like = rng.choice([s["Grid"] for s in sample], n_calls)
        self.reporters = [f"R{i}X{chr(65 + i % 26)}" for i in range(n_reporters)]
        self.reporter_grid = [_locator(rng, g) for g in rep_like]
        self.calls = [f"K{i}{chr(65 + i % 26)}{chr(65 + (i // 26) % 26)}" for i in range(n_calls)]
        self.call_grid = [_locator(rng, g) for g in call_like]
        self.rep_w = _zipf_weights(n_reporters, ZIPF_REPORTERS)
        self.call_w = _zipf_weights(n_calls, ZIPF_CALLS)
        self.next_spotnum = FIRST_SPOTNUM + int(rng.integers(1000))
        self.scrapes = 0
        # the fresh spots of the last RESEND_WINDOW scrapes, for re-sends
        self.recent: deque[list[dict]] = deque(maxlen=RESEND_WINDOW)

    def scrape(self, n: int) -> tuple[list[dict], list[int]]:
        """One scrape: `n` fresh spots with the sample's rate of Spotnum
        holes inside it, plus ~1% re-sent spots. Returns (spots, fresh
        Spotnums)."""
        rng = self.rng
        step = np.ones(n, dtype=np.int64)
        gaps = round((n - 1) * self.gap_rate)
        if gaps:
            step[rng.choice(np.arange(1, n), size=gaps, replace=False)] += rng.choice(self.gap_sizes, gaps)
        ids = (self.next_spotnum + np.cumsum(step) - 1).tolist()
        self.next_spotnum = ids[-1] + 1
        date = EPOCH0 + 120 * (self.scrapes // SCRAPES_PER_CYCLE)
        self.scrapes += 1
        dates = (date - 120 * (rng.random(n) < PREV_CYCLE_SHARE)).tolist()
        reps = rng.choice(len(self.reporters), size=n, p=self.rep_w).tolist()
        calls = rng.choice(len(self.calls), size=n, p=self.call_w).tolist()
        drawn = {k: rng.choice(v, n).tolist() for k, v in self.values.items()}
        fresh = [
            {
                "Spotnum": str(ids[i]),
                "Date": str(dates[i]),
                "Reporter": self.reporters[reps[i]],
                "ReporterGrid": self.reporter_grid[reps[i]],
                "CallSign": self.calls[calls[i]],
                "Grid": self.call_grid[calls[i]],
                **{k: drawn[k][i] for k in SAMPLED_KEYS},
                "unknown_extra_key": "dropped_by_parser",
            }
            for i in range(n)
        ]
        pool = [spot for sc in self.recent for spot in sc]
        k = min(max(1, round(n * RESEND_SHARE)), len(pool))
        resend = [pool[i] for i in rng.choice(len(pool), size=k, replace=False)] if pool else []
        self.recent.append(fresh)
        return resend + fresh, ids

    def mark_sent(self, spots: list[dict]) -> None:
        """Record spots landed from elsewhere (the golden rows) as a
        sent scrape, so the next scrapes may re-send them."""
        self.recent.append(spots)


def expected_gaps(ids) -> tuple[int, int, int]:
    """(total_gaps, total_missing, max_gap_size) over a set of ids,
    the reference's three gap accumulators."""
    s = np.unique(np.asarray(list(ids), dtype=np.int64))
    d = np.diff(s) - 1
    d = d[d > 0]
    return int(d.size), int(d.sum()), int(d.max()) if d.size else 0


# ----------------------------------------------------------- read side

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def write_tables(out_dir: Path, seed: int, sf: float) -> None:
    """A TPC-H-shaped table set (plus events, documents, embeddings) at
    scale factor `sf`, with the schemas and value domains the registry
    queries and their DuckDB oracles are written against."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")

    def days(lo: str, hi: str, n: int) -> np.ndarray:
        a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        d = rng.integers(0, int((b - a).astype(int)) + 1, n)
        return (a + d).astype("datetime64[us]")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_cust
        ),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["large", "hot", "blue", "small", "green", "red", "cold", "shiny"]
    noun = ["ring", "bolt", "gear", "pipe", "nut", "valve"]
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[i % 8]} {noun[(i // 8) % 6]}" for i in rng.integers(0, 48, n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line),
    })
    n_ev = int(1_000_000 * sf)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = t0 + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = max(200, int(50_000 * sf))
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))) for _ in range(n_doc)
    ]
    # 5% near-duplicates: an earlier document plus one extra token
    for i in rng.choice(np.arange(1, n_doc), size=n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_emb = max(100, int(20_000 * sf))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
