"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed writes
byte-identical files (``file_digest`` lets a caller check that).

- ``write_flights``: a raw US DOT on-time CSV in the FIXTURES.md §B1
  layout plus a weather JSON (§B4), for the ETL and API workloads.
- ``write_tables``: the TPC-H-like star schema plus the events,
  documents and embeddings tables (FIXTURES.md §A), at a given scale
  factor, for the two query-suite workloads.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import date, datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CARRIERS = ["WN", "DL", "AA", "UA", "OO", "B6", "AS", "NK", "YX", "MQ",
            "9E", "F9", "OH", "G4", "HA"]
AIRPORTS = [
    "ATL", "DFW", "DEN", "ORD", "LAX", "CLT", "MCO", "LAS", "PHX", "MIA",
    "SEA", "IAH", "JFK", "EWR", "FLL", "MSP", "SFO", "DTW", "BOS", "SLC",
    "PHL", "BWI", "TPA", "SAN", "LGA", "MDW", "BNA", "IAD", "DCA", "AUS",
    "DAL", "HOU", "PDX", "STL", "RDU", "HNL", "OAK", "MSY", "SMF", "SJC",
    "SNA", "MCI", "SAT", "RSW", "CLE", "IND", "PIT", "CVG", "CMH", "JAX",
    "OGG", "BDL", "ANC", "ONT", "BUR", "OMA", "ABQ", "MKE", "BOI", "RIC",
]
FLIGHT_DAYS = 31
FIRST_DAY = date(2024, 1, 1)
CANCELLED_SHARE = 0.025
MIXED_CASE_SHARE = 0.1
UNMATCHED_STATION = "ZZZ"

FLIGHT_COLUMNS = [
    "FL_DATE", "OP_CARRIER", "OP_CARRIER_FL_NUM", "TAIL_NUM", "ORIGIN", "DEST",
    "CRS_DEP_TIME", "DEP_TIME", "DEP_DELAY", "CRS_ARR_TIME", "ARR_TIME",
    "ARR_DELAY", "CANCELLED", "CANCELLATION_CODE", "DIVERTED", "DISTANCE",
    "CARRIER_DELAY", "WEATHER_DELAY", "NAS_DELAY", "SECURITY_DELAY",
    "LATE_AIRCRAFT_DELAY",
]


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _mixed_case(rng: np.random.Generator, codes: np.ndarray) -> np.ndarray:
    lower = rng.random(len(codes)) < MIXED_CASE_SHARE
    out = codes.astype(object)
    out[lower] = np.char.lower(codes[lower].astype(str))
    return out


def _hhmm(minutes: np.ndarray) -> np.ndarray:
    m = np.mod(minutes, 1440)
    return (m // 60) * 100 + m % 60


def write_flights(csv_path: str, weather_path: str, rows: int, seed: int) -> None:
    """Raw flights CSV + weather JSON (FIXTURES.md §B1/§B4).

    Zipf-skewed carriers and airports, mixed-case codes, ~2.5% cancelled
    rows with null DEP_TIME/ARR_TIME, delay-cause columns null unless
    the arrival was 15+ minutes late (so the >70%-null drop fires), a
    mostly-null CANCELLATION_CODE, and actual times that cross hour
    boundaries. (FL_DATE, OP_CARRIER_FL_NUM, ORIGIN) is unique, so keyset
    pagination over it is exact. The weather file covers every other
    origin plus one unmatched station.
    """
    rng = np.random.default_rng(seed)
    day = np.sort(rng.integers(0, FLIGHT_DAYS, rows))
    # flight numbers unique within a day: a per-day random permutation
    fl_num = np.empty(rows, dtype=np.int64)
    starts = np.searchsorted(day, np.arange(FLIGHT_DAYS + 1))
    for d in range(FLIGHT_DAYS):
        n = starts[d + 1] - starts[d]
        fl_num[starts[d]:starts[d + 1]] = rng.permutation(9000)[:n] + 100
    carrier = np.array(CARRIERS)[rng.choice(len(CARRIERS), rows, p=zipf_weights(len(CARRIERS)))]
    ap_w = zipf_weights(len(AIRPORTS))
    origin_i = rng.choice(len(AIRPORTS), rows, p=ap_w)
    dest_i = rng.choice(len(AIRPORTS), rows, p=ap_w)
    dest_i = np.where(dest_i == origin_i, (dest_i + 1) % len(AIRPORTS), dest_i)
    origin = np.array(AIRPORTS)[origin_i]
    dest = np.array(AIRPORTS)[dest_i]
    tail = np.array([f"N{n}" for n in rng.integers(100, 999, rows)], dtype=object)
    tail[rng.random(rows) < 0.01] = ""

    crs_dep_min = rng.integers(5 * 60, 23 * 60, rows)
    block = rng.integers(45, 360, rows)
    crs_arr_min = crs_dep_min + block
    dep_delay = np.round(rng.gamma(1.2, 14.0, rows) - 8.0)
    arr_delay = np.round(dep_delay + rng.normal(-3.0, 9.0, rows))
    cancelled = rng.random(rows) < CANCELLED_SHARE
    diverted = (~cancelled) & (rng.random(rows) < 0.003)

    dep_time = _hhmm(crs_dep_min + dep_delay.astype(np.int64)).astype(float)
    arr_time = _hhmm(crs_arr_min + arr_delay.astype(np.int64)).astype(float)
    for a in (dep_time, arr_time, dep_delay, arr_delay):
        a[cancelled] = np.nan
    arr_time[diverted] = np.nan
    arr_delay[diverted] = np.nan

    late = np.nan_to_num(arr_delay, nan=0.0) >= 15
    causes = {}
    for name in ("CARRIER_DELAY", "WEATHER_DELAY", "NAS_DELAY", "SECURITY_DELAY",
                 "LATE_AIRCRAFT_DELAY"):
        v = np.round(rng.random(rows) * np.nan_to_num(arr_delay, nan=0.0))
        causes[name] = np.where(late, v, np.nan)
    canc_code = np.where(cancelled, np.array(["A", "B", "C"])[rng.integers(0, 3, rows)], "")
    distance = np.round(block * 7.5 + rng.normal(0, 20, rows))

    dates = [FIRST_DAY + timedelta(days=int(d)) for d in range(FLIGHT_DAYS)]
    fl_date = [f"{d.month}/{d.day}/{d.year} 12:00:00 AM" for d in dates]
    carrier = _mixed_case(rng, carrier)
    origin = _mixed_case(rng, origin)
    dest = _mixed_case(rng, dest)

    fl_date = np.array(fl_date)[day]
    frame = pd.DataFrame({
        "FL_DATE": fl_date, "OP_CARRIER": carrier, "OP_CARRIER_FL_NUM": fl_num,
        "TAIL_NUM": tail, "ORIGIN": origin, "DEST": dest,
        "CRS_DEP_TIME": _hhmm(crs_dep_min), "DEP_TIME": dep_time, "DEP_DELAY": dep_delay,
        "CRS_ARR_TIME": _hhmm(crs_arr_min), "ARR_TIME": arr_time, "ARR_DELAY": arr_delay,
        "CANCELLED": cancelled.astype(float), "CANCELLATION_CODE": canc_code,
        "DIVERTED": diverted.astype(float), "DISTANCE": distance, **causes,
    })
    frame.to_csv(csv_path, index=False, columns=FLIGHT_COLUMNS)

    stations = [
        {"id": code, "temperature": int(t), "conditions": c}
        for code, t, c in zip(
            AIRPORTS[::2],
            rng.integers(10, 95, len(AIRPORTS[::2])),
            np.array(["clear", "cloudy", "rain", "snow", "fog"])[
                rng.integers(0, 5, len(AIRPORTS[::2]))
            ],
        )
    ]
    stations.append({"id": UNMATCHED_STATION, "temperature": 50, "conditions": "clear"})
    with open(weather_path, "w", encoding="ascii") as f:
        json.dump({"stations": stations}, f, indent=1)


# ---------------------------------------------------------------------------
# Query-suite tables
# ---------------------------------------------------------------------------
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["error", "signup", "purchase", "view", "click"]
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
VOCAB = (
    "a the spark data query join agg group filter sort scan hash table row "
    "column window stream batch merge order part line value key vector fast "
    "slow big small customer index shuffle plan cache page node task stage "
    "file block cost"
).split()


def _days(rng, start: date, end: date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span + 1, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * scale), int(1_500_000 * scale)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(20_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["large", "hot", "blue", "red", "small", "green"])
    noun = np.array(["ring", "bolt", "gear", "pipe", "plate", "valve"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])[
            rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, date(1995, 1, 1), date(2001, 8, 1), n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    flags = rng.integers(0, 6, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N", "N", "A", "R"])[flags],
        "l_linestatus": np.array(["O", "O", "F", "O", "F", "F"])[flags],
        "l_shipdate": _days(rng, date(1995, 1, 2), date(2001, 11, 4), n_li),
    })
    # events: ts increasing with event_id over 30 days, microsecond jitter
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64) + 1
    ts = np.datetime64(datetime(2024, 1, 1), "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words docs; ~8% are near-duplicates of an earlier doc (a
    few tokens swapped) and a handful exact copies with case/space
    noise, so exact and MinHash dedup both have work."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), int(rng.integers(0, 3))):
                toks[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.082:
            texts.append("  " + texts[int(rng.integers(0, i))].upper() + " ")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]) + " ")
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dims: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dims))
    label = rng.integers(0, labels, n)
    v = 0.35 * centers[label] + rng.normal(size=(n, dims))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_tables(out_dir: str, scale: float, seed: int) -> None:
    """One ``<name>.parquet`` file per table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
