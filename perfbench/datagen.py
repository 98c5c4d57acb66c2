"""Seeded inputs for the benchmark: the batch star schema and the
heart-rate event stream.

Batch tables mirror the schema and value distributions of the catalog's
synthetic star schema (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings). The base tables come from one
fixed generator seed, so every workload seed sees the same rows; the
workload seed only picks the row order of each table copy. That keeps the
work per pass constant while making every pass read files the session has
never seen (its caches key on input file lists).

Stream events follow the reference producer: JSON objects with
``patient_id``, an ISO-8601 ``timestamp`` and an integer
``heart_rate_bpm``, plus malformed records of both kinds the reference
parser must drop.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the base tables; the workload seed only permutes rows.
BASE_SEED = 20240101

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "cold", "green", "big", "shiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "nut", "spring", "pipe", "valve"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The star schema at scale factor `sf` (0.01 -> 60k lineitem rows)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(50_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_evt),
            "event_type": rng.choice(_EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts = [
        " ".join(rng.choice(_VOCAB, int(k)))
        for k in rng.integers(10, 101, n_doc)
    ]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vec = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.ravel(), pa.float32()), 64
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return t


def write_permuted(tables: dict[str, pa.Table], out_dir: str, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet`` with its rows in an
    order drawn from `seed`. Same seed, same bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        tbl = tables[name]
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# --- heart-rate stream -------------------------------------------------

N_PATIENTS = 500
MALFORMED_FRAC = 0.05
#: Event-time origin of the backlog hour (epoch ms, on a minute boundary).
T0_MS = 1_735_689_600_000  # 2025-01-01T00:00:00Z


def _iso(ms: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    base = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")
    zulu = rng.random(len(ms)) < 0.5
    return np.where(zulu, np.char.add(base, "Z"), np.char.add(base, "+00:00"))


class EventSource:
    """Deterministic heart-rate readings for one seed.

    Each patient has a resting baseline; some (patient, minute) cells are
    tachycardia or bradycardia episodes, so all three alert classes occur.
    `make` turns event times into raw JSON strings and reports, for every
    valid event, the (patient, bpm, event_ms) the reference parser should
    recover from it.
    """

    def __init__(self, seed: int):
        self.seed = seed
        self.patients = [f"p{i:04d}" for i in range(N_PATIENTS)]
        rng = np.random.default_rng([seed, 1])
        self.baseline = rng.integers(65, 81, N_PATIENTS)
        self._shift: dict[int, np.ndarray] = {}

    def _episode_shift(self, minute: int) -> np.ndarray:
        s = self._shift.get(minute)
        if s is None:
            u = np.random.default_rng([self.seed, 2, minute % 2**32]).random(len(self.patients))
            s = np.where(u < 0.03, 45, np.where(u > 0.97, -40, 0))
            self._shift[minute] = s
        return s

    def make(
        self, rng: np.random.Generator, event_ms: np.ndarray
    ) -> tuple[list[str], np.ndarray, np.ndarray, np.ndarray]:
        """Raw JSON values for readings at `event_ms` (random patients).

        Returns (values, valid_mask, patient_index, bpm)."""
        n = len(event_ms)
        pidx = rng.integers(0, len(self.patients), n)
        minutes = (event_ms - T0_MS) // 60_000
        shift = np.empty(n, dtype=np.int64)
        for m in np.unique(minutes):
            sel = minutes == m
            shift[sel] = self._episode_shift(int(m))[pidx[sel]]
        bpm = self.baseline[pidx] + rng.integers(-10, 16, n) + shift
        iso = _iso(event_ms, rng)
        kind = rng.random(n)
        values = []
        for i in range(n):
            if kind[i] < MALFORMED_FRAC / 2:
                values.append("not-json{" + str(int(bpm[i])))
            elif kind[i] < MALFORMED_FRAC:
                values.append(json.dumps({"patient_id": self.patients[pidx[i]]}))
            else:
                values.append(
                    '{"patient_id": "%s", "timestamp": "%s", "heart_rate_bpm": %d}'
                    % (self.patients[pidx[i]], iso[i], bpm[i])
                )
        return values, kind >= MALFORMED_FRAC, pidx, bpm


def backlog_times(seed: int, n_events: int) -> np.ndarray:
    """Event times of the catch-up backlog: `n_events` readings over one
    event-hour from T0_MS, in arrival order, each at most 3 s out of order."""
    rng = np.random.default_rng([seed, 3])
    t = np.sort(rng.integers(0, 3_600_000, n_events))
    lag = rng.integers(0, 3_001, n_events)
    return T0_MS + np.maximum(t - lag, 0)
