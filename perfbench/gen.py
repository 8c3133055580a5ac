"""Seeded input generators for the three workloads.

Everything here is a pure function of ``(seed, scale)``: the same seed
gives byte-identical chunks, fixtures and request mixes, and the
expected answers derived from them. The engine only ever sees the
files and requests produced here.

The geohash encoder is a vectorised re-implementation of the public
algorithm (same float64 midpoint refinement as the engine's
``geo.encode``), so the DuckDB oracles never depend on engine code.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_B32 = np.frombuffer(BASE32.encode(), dtype=np.uint8)

HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS


def utc_ms(*args: int) -> int:
    return calendar.timegm(dt.datetime(*args).timetuple()) * 1000


def geohash_encode(lat: np.ndarray, lon: np.ndarray, precision: int):
    """Vectorised geohash encode. Returns ``(codes, bounds)``: the
    geohash strings and each cell's (south, west, north, east)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = lat.shape[0]
    lat_lo, lat_hi = np.full(n, -90.0), np.full(n, 90.0)
    lon_lo, lon_hi = np.full(n, -180.0), np.full(n, 180.0)
    digits = np.zeros((n, precision), dtype=np.int64)
    even = True
    for i in range(5 * precision):
        if even:
            mid = (lon_lo + lon_hi) / 2
            bit = lon >= mid
            lon_lo = np.where(bit, mid, lon_lo)
            lon_hi = np.where(bit, lon_hi, mid)
        else:
            mid = (lat_lo + lat_hi) / 2
            bit = lat >= mid
            lat_lo = np.where(bit, mid, lat_lo)
            lat_hi = np.where(bit, lat_hi, mid)
        digits[:, i // 5] = digits[:, i // 5] * 2 + bit
        even = not even
    raw = np.ascontiguousarray(_B32[digits]).view(f"S{precision}").ravel()
    codes = np.char.decode(raw, "ascii")
    return codes, np.stack([lat_lo, lon_lo, lat_hi, lon_hi], axis=1)


def cell_dims(precision: int) -> tuple[float, float]:
    """(height, width) in degrees of a geohash cell."""
    lon_bits = -(-5 * precision // 2)
    lat_bits = 5 * precision - lon_bits
    return 180.0 / (1 << lat_bits), 360.0 / (1 << lon_bits)


def skewed_cells(rng: np.random.Generator, n_cells: int, box, n_centres: int):
    """``n_cells`` distinct precision-6 cells clustered around
    ``n_centres`` points of ``box`` = (south, west, north, east), each
    with a Zipf weight so sensor density is skewed. Returns
    ``(codes, bounds, weights)``."""
    s, w, n, e = box
    centres = rng.uniform([s, w], [n, e], size=(n_centres, 2))
    codes: list = []
    bounds: list = []
    seen: set = set()
    while len(codes) < n_cells:
        pick = centres[rng.integers(n_centres, size=n_cells)]
        pts = pick + rng.normal(0.0, 0.25, size=pick.shape)
        pts[:, 0] = np.clip(pts[:, 0], s, n)
        pts[:, 1] = np.clip(pts[:, 1], w, e)
        c, b = geohash_encode(pts[:, 0], pts[:, 1], 6)
        for code, bb in zip(c, b):
            if code not in seen and len(codes) < n_cells:
                seen.add(code)
                codes.append(code)
                bounds.append(bb)
    weights = 1.0 / np.arange(1, n_cells + 1) ** 1.1
    weights = rng.permutation(weights)
    return np.array(codes), np.array(bounds), weights / weights.sum()


def sensors_in(rng: np.random.Generator, bounds, weights, n_sensors: int):
    """Sensor positions: one per cell, the rest drawn by cell weight,
    each at a uniform point strictly inside its cell."""
    n_cells = len(bounds)
    cell = np.concatenate(
        [np.arange(n_cells), rng.choice(n_cells, n_sensors - n_cells, p=weights)]
    )
    u = rng.uniform(0.01, 0.99, size=(len(cell), 2))
    b = bounds[cell]
    lat = b[:, 0] + u[:, 0] * (b[:, 2] - b[:, 0])
    lon = b[:, 1] + u[:, 1] * (b[:, 3] - b[:, 1])
    return lat, lon


# ---------------------------------------------------------------- ingest


@dataclass
class Chunk:
    phase: str  # warm | steady | burst
    due: float  # steady: seconds after the phase start; burst: burst number
    events: int
    body: bytes  # JSON lines, one reading each


@dataclass
class IngestInputs:
    chunks: list[Chunk]
    readings: dict  # column -> np.ndarray, every event of every chunk
    cells: int
    out_of_order: int
    steady_rate: float
    burst_events: int
    first_ts: int
    last_ts: int


# Event time starts 3 h before a UTC midnight and runs 1 h per 4% of the
# steady chunks, so every run crosses a date boundary. Late events go
# back at most 4 h — always inside the pipeline's 24 h watermark grace,
# so nothing may be dropped.
INGEST_T0 = utc_ms(2024, 3, 1, 21)
OUT_OF_ORDER_SHARE = 0.05
MAX_LATENESS_MS = 4 * HOUR_MS


def ingest_inputs(
    seed: int,
    scale: float,
    steady_s: float,
    chunk_interval_s: float,
    steady_rate: float,
    burst_events: int,
    bursts: int,
    warm_chunks: int = 1,
    warm_events: int = 4000,
) -> IngestInputs:
    """Chunks for the warm-up (``warm_events`` each), the steady
    phase (one per ``chunk_interval_s``) and the bursts, with every event
    they hold."""
    rng = np.random.default_rng([seed, 1])
    n_cells = max(50, int(4000 * scale))
    _, bounds, weights = skewed_cells(rng, n_cells, (43.0, -2.0, 52.0, 16.0), 24)
    lat, lon = sensors_in(rng, bounds, weights, 4 * n_cells)
    sensor_gh, _ = geohash_encode(lat, lon, 12)
    n_sensors = len(sensor_gh)

    per_chunk = max(1, int(round(steady_rate * chunk_interval_s)))
    n_steady = max(1, int(steady_s / chunk_interval_s))
    plan = [("warm", 0.0, warm_events)] * warm_chunks
    plan += [("steady", i * chunk_interval_s, per_chunk) for i in range(n_steady)]
    plan += [("burst", float(b), burst_events) for b in range(bursts)]

    total = sum(p[2] for p in plan)
    evt_span = 6 * HOUR_MS
    # event time advances monotonically with chunk index
    base = INGEST_T0 + (np.arange(total) * (evt_span / total)).astype(np.int64)
    base += rng.integers(0, max(1, evt_span // total), size=total)
    late = rng.random(total) < OUT_OF_ORDER_SHARE
    ts = base - np.where(late, rng.integers(HOUR_MS // 4, MAX_LATENESS_MS, size=total), 0)
    sensor = rng.integers(0, n_sensors, size=total)
    temp = np.round(rng.normal(14.0, 7.0, size=total), 2)
    gh = sensor_gh[sensor]

    chunks: list[Chunk] = []
    pos = 0
    for phase, due, n in plan:
        lines = [
            json.dumps(
                {
                    "timestamp": int(ts[i]),
                    "sensorId": f"s{int(sensor[i]):06d}",
                    "geohash": str(gh[i]),
                    "tempVal": float(temp[i]),
                    "tempUnit": "c",
                }
            )
            for i in range(pos, pos + n)
        ]
        chunks.append(Chunk(phase, due, n, ("\n".join(lines) + "\n").encode()))
        pos += n
    return IngestInputs(
        chunks=chunks,
        readings={"timestamp": ts, "geohash": gh, "tempVal": temp},
        cells=n_cells,
        out_of_order=int(late.sum()),
        steady_rate=per_chunk / chunk_interval_s,
        burst_events=burst_events,
        first_ts=int(ts.min()),
        last_ts=int(ts.max()),
    )


# ---------------------------------------------------------------- serving

SERVE_T0 = utc_ms(2024, 5, 1)
SERVE_DAYS = 21
SERVE_BOX = (44.0, 0.0, 50.0, 12.0)  # south, west, north, east


@dataclass
class ServeInputs:
    readings: dict  # lat, lon, timestamp, tempVal, sensorId, geohash (12)
    cells: np.ndarray  # distinct precision-6 cells with data
    requests: list = field(default_factory=list)


def serve_readings(seed: int, scale: float) -> ServeInputs:
    rng = np.random.default_rng([seed, 2])
    n_cells = max(40, int(1500 * scale))
    codes, bounds, weights = skewed_cells(rng, n_cells, SERVE_BOX, 12)
    lat, lon = sensors_in(rng, bounds, weights, 2 * n_cells)
    n = max(2000, int(120_000 * scale))
    sensor = rng.integers(0, len(lat), size=n)
    ts = SERVE_T0 + rng.integers(0, SERVE_DAYS * DAY_MS, size=n)
    temp = np.round(rng.normal(16.0, 6.0, size=n), 2)
    gh, _ = geohash_encode(lat[sensor], lon[sensor], 12)
    return ServeInputs(
        readings={
            "lat": lat[sensor],
            "lon": lon[sensor],
            "timestamp": ts.astype(np.int64),
            "tempVal": temp,
            "sensorId": np.array([f"s{int(s):06d}" for s in sensor]),
            "geohash": gh,
        },
        cells=np.unique(gh.astype("U6")),
    )


@dataclass
class Request:
    kind: str  # history | history_interval | snapshot
    path: str  # URL path + query string sent to the server
    params: dict  # what the oracle needs


# history (0.0), history_interval (0.5) and snapshot (0.9) slots
_KIND_CYCLE = (0.0, 0.9, 0.5, 0.0, 0.9, 0.0, 0.9, 0.5, 0.0, 0.9)
# seeds the request sizes, the same for every benchmark seed
_SIZE_SEED = 20240501


def read_requests(
    seed: int, cells: np.ndarray, span_lo: int, span_hi: int, n: int, salt: int
) -> list[Request]:
    """Seeded request mix: 40% history over 1-20 cells and 1 h..whole
    span; 20% history with interval=1day|1week (half of them anchored
    by ``from``); 40% snapshot over grid-aligned boxes of 1..64 cells at
    precision 3..6. The kinds follow a fixed ten-request cycle, and the
    sizes that drive a request's cost (cell count, time-range length,
    interval, box precision and shape) come from a generator of their
    own that the seed does not touch, so request i costs about the same
    whatever the seed, and a run's latencies do not depend on which
    sizes its seed happened to draw. The seed draws the rest: which
    cells, where in time, the aggregate and the box's anchor. Snapshot
    boxes sit exactly on cell edges (shrunk by a hair), so every cover
    the engine may pick selects the same cells and the oracle needs no
    cover logic of its own."""
    rng = np.random.default_rng([seed, salt])
    size = np.random.default_rng([_SIZE_SEED, salt])
    out: list[Request] = []
    for i in range(n):
        op = ("count", "sum", "avg")[int(rng.integers(3))]
        r = _KIND_CYCLE[i % len(_KIND_CYCLE)]
        if r < 0.4:
            k = int(size.integers(1, 21))
            pick = sorted(rng.choice(cells, size=min(k, len(cells)), replace=False))
            length = int(np.exp(size.uniform(np.log(HOUR_MS), np.log(span_hi - span_lo + 1))))
            lo = int(rng.integers(span_lo - HOUR_MS, span_hi - length + HOUR_MS))
            if rng.random() < 0.5:  # hour-aligned bounds hit the inclusive edges
                lo -= lo % HOUR_MS
            hi = lo + length
            path = (
                f"/api/temperature/aggregate/{op}/history?geohashes={','.join(pick)}"
                f"&from={lo}&to={hi}"
            )
            out.append(Request("history", path, {"op": op, "cells": pick, "lo": lo, "hi": hi}))
        elif r < 0.6:
            k = int(size.integers(1, 21))
            pick = sorted(rng.choice(cells, size=min(k, len(cells)), replace=False))
            interval = ("1day", "1week")[int(size.integers(2))]
            path = (
                f"/api/temperature/aggregate/{op}/history?geohashes={','.join(pick)}"
                f"&interval={interval}"
            )
            to = None
            if size.random() < 0.5:
                to = int(rng.integers(span_lo + HOUR_MS, span_hi))
                path += f"&from={to}"
            out.append(
                Request(
                    "history_interval",
                    path,
                    {"op": op, "cells": pick, "interval": interval, "to": to},
                )
            )
        else:
            p = int(size.integers(3, 7))
            h, w = cell_dims(p)
            rows = int(size.integers(1, 9))
            cols = int(size.integers(1, 65 // rows + 1))
            cols = min(cols, 64 // rows)
            anchor = cells[int(rng.integers(len(cells)))]
            _, b = geohash_encode(*_centre(anchor), p)
            south, west = b[0, 0], b[0, 1]
            north, east = south + rows * h, west + cols * w
            eps_h, eps_w = h * 1e-6, w * 1e-6
            bbox = (north - eps_h, west + eps_w, south + eps_h, east - eps_w)
            ts = int(rng.integers(span_lo, span_hi))
            path = (
                f"/api/temperature/aggregate/{op}/snapshot?ts={ts}"
                f"&bbox={','.join(repr(float(v)) for v in bbox)}"
            )
            out.append(
                Request(
                    "snapshot",
                    path,
                    {
                        "op": op,
                        "hour": ts - ts % HOUR_MS,
                        "block": (south, west, north, east),
                        "precision": p,
                        "bbox": bbox,
                        "ts": ts,
                    },
                )
            )
    return out


def _centre(code: str):
    """Centre point of a geohash cell (via the vectorised encoder's
    bounds) as 1-element arrays."""
    lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
    even = True
    for ch in code:
        d = BASE32.index(ch)
        for shift in range(4, -1, -1):
            bit = (d >> shift) & 1
            if even:
                mid = (lon_lo + lon_hi) / 2
                lon_lo, lon_hi = (mid, lon_hi) if bit else (lon_lo, mid)
            else:
                mid = (lat_lo + lat_hi) / 2
                lat_lo, lat_hi = (mid, lat_hi) if bit else (lat_lo, mid)
            even = not even
    return np.array([(lat_lo + lat_hi) / 2]), np.array([(lon_lo + lon_hi) / 2])


# ---------------------------------------------------------------- batch

_WORDS = (
    "the stream query row fast small spark group customer line sort hash "
    "batch dup data filter value big key order table scan merge part window "
    "join slow agg column a vector"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def write_fixtures(seed: int, scale: float, out_dir: str) -> dict[str, int]:
    """Write the ten fixture tables in the shape of FIXTURES.md §2 as
    parquet under ``out_dir`` at roughly sf0.001 × ``scale`` rows.
    Returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    k = max(scale, 0.05)
    n_cust, n_supp, n_part = max(20, int(150 * k)), 10, max(20, int(200 * k))
    n_ord, n_li = max(100, int(1500 * k)), max(400, int(6000 * k))
    n_ev, n_doc, n_emb = max(100, int(1000 * k)), max(60, int(500 * k)), max(60, int(500 * k))

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(lo: dt.datetime, span_days: int, size: int):
        base = np.datetime64(lo, "us")
        return base + rng.integers(0, span_days, size).astype("timedelta64[D]")

    t: dict = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
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
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(0, 9999, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{_WORDS[a]} {_WORDS[b]}"
                for a, b in rng.integers(0, len(_WORDS), (n_part, 2))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [
                ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")[i]
                for i in rng.integers(0, 6, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": days(dt.datetime(1995, 1, 1), 2400, n_ord),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": days(dt.datetime(1995, 1, 2), 2500, n_li),
        }
    )
    ev_ts = np.datetime64(dt.datetime(2024, 1, 1), "us") + np.sort(
        rng.integers(0, 30 * DAY_MS * 1000, n_ev)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": ev_ts,
            "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": money(0, 330, n_ev),
            "props": [json.dumps({"k": int(i)}) for i in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(len(words)))] = _WORDS[int(rng.integers(len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), rng.integers(10, 100))]
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_doc), pa.int64()),
            "text": texts,
            "lang": [("de", "en", "en", "es", "fr", "zh")[i] for i in rng.integers(0, 6, n_doc)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
