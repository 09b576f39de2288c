"""Seeded benchmark inputs: camera frames and analytics tables.

Everything here runs before set-up timing starts. The same seed gives the
same bytes, and generated inputs are cached by seed under the work
directory, so a repeated seed pays nothing.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gjenbruksstasjoner_kotid_estimering_spark.sources import jpeg

# Camera geometry of the reference (sources/images.py RAW_H, RAW_W).
FRAME_H, FRAME_W = 240, 1280
# Noise amplitude per station slot: every tick holds one frame of each
# level, so a tick's decode cost does not depend on the seed. At JPEG
# quality 90 these compress to about 86, 156 and 217 KB.
TEXTURE_AMPS = (5.0, 8.0, 11.5)
JPEG_QUALITY = 90
TICK_SECONDS = 600
# A winter day: Europe/Oslo has no DST change in range, so every
# filename wall time maps to exactly one epoch.
FIRST_TICK = dt.datetime(2024, 1, 15, 6, 0, 0)
OSLO = ZoneInfo("Europe/Oslo")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _finish(path: str, manifest: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w") as fh:
        json.dump(manifest, fh)


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def scene(seed: int, slot: int) -> np.ndarray:
    """A 1280x240 BGR camera frame: road gradient, a queue of cars whose
    length comes from the seed, and sensor noise at the slot's level."""
    rng = np.random.default_rng([seed, slot])
    yy, xx = np.mgrid[0:FRAME_H, 0:FRAME_W]
    road = 95.0 + 55.0 * np.sin(xx / (35.0 + 10 * slot)) + 25.0 * np.cos(yy / 17.0)
    img = np.repeat(road[..., None], 3, axis=2)
    x = 1227
    for _ in range(int(rng.integers(2, 14))):
        w = int(rng.integers(45, 90))
        y0 = int(rng.integers(104, 150))
        img[y0 : y0 + 40, max(x - w, 0) : x] = rng.uniform(20, 235, 3)
        x -= w + int(rng.integers(4, 20))
        if x < 60:
            break
    img += rng.normal(0.0, TEXTURE_AMPS[slot], img.shape)
    return np.clip(img, 0, 255).astype(np.uint8)


def frame_name(station: int, tick: int) -> str:
    t = FIRST_TICK + dt.timedelta(seconds=TICK_SECONDS * tick)
    return f"station_id_{station}_{t:%Y%m%dT%H%M%S}.jpg"


def frame_epoch(tick: int) -> int:
    t = FIRST_TICK + dt.timedelta(seconds=TICK_SECONDS * tick)
    return int(t.replace(tzinfo=OSLO).timestamp())


def station_ids() -> list[int]:
    return [11 + slot for slot in range(len(TEXTURE_AMPS))]


def camera_inputs(root: str, seed: int, n_ticks: int) -> dict:
    """Tick directories ``tick_NNNN/`` of one frame per station, plus the
    embeddings table the scoring heads are fitted on. A station sends the
    same bytes every tick: decoding costs the same either way, and
    encoding once per station keeps input generation short."""
    path = os.path.join(root, f"camera-{seed}-{len(TEXTURE_AMPS)}x{n_ticks}")
    ticks = [os.path.join(path, f"tick_{t:04d}") for t in range(n_ticks)]
    if not _done(path):
        _fresh(path)
        encoded = [
            jpeg.encode(scene(seed, slot), quality=JPEG_QUALITY)
            for slot in range(len(TEXTURE_AMPS))
        ]
        for t, tick_dir in enumerate(ticks):
            os.makedirs(tick_dir)
            for slot, sid in enumerate(station_ids()):
                with open(os.path.join(tick_dir, frame_name(sid, t)), "wb") as fh:
                    fh.write(encoded[slot])
        write_embeddings(path, seed, 1000)
        _finish(path, {"frame_bytes": [len(b) for b in encoded]})
    with open(os.path.join(path, "_DONE")) as fh:
        sizes = json.load(fh)["frame_bytes"]
    return {
        "dir": path,
        "ticks": ticks,
        "frame_kb_min": min(sizes) / 1024,
        "frame_kb_max": max(sizes) / 1024,
        "bytes_per_tick": sum(sizes),
    }


# ------------------------------------------------------------ analytics
# A TPC-H-like star schema plus the events/documents/embeddings tables,
# with the column types and value domains of the testdata layout the
# registry's builders and oracles are written against (TESTDATA.md).

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "group stream filter big vector"
).split()
_COLORS = "red blue hot cold old new small large".split()
_THINGS = "plate widget ring rod bolt gizmo gear anvil".split()


def _ts(days_from: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(path: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def write_embeddings(path: str, seed: int, n: int, dim: int = 64) -> None:
    rng = np.random.default_rng([seed, 9])
    emb = rng.normal(0.0, 0.12, (n, dim)).astype(np.float32)
    _write(
        path,
        "embeddings",
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        },
    )


def analytics_inputs(root: str, seed: int, sf: float) -> str:
    """Write the ten tables at scale ``sf`` (lineitem = 6,000,000 * sf rows)
    and return the directory."""
    path = os.path.join(root, f"analytics-{seed}-{sf}")
    if _done(path):
        return path
    _fresh(path)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    ch = lambda vals, n: np.asarray(vals, dtype=object)[rng.integers(0, len(vals), n)]  # noqa: E731
    cents = lambda lo, hi, n: rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0  # noqa: E731

    _write(path, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(path, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(path, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": ch(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_cust
        ),
    })
    _write(path, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": cents(-999.99, 9999.99, n_supp),
    })
    part_names = [f"{c} {t}" for c in _COLORS for t in _THINGS]
    _write(path, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": ch(part_names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ch(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    _write(path, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": ch(["F", "O", "P"], n_ord),
        "o_totalprice": cents(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": ch(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(path, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * cents(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": ch(["A", "N", "R"], n_line),
        "l_linestatus": ch(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line)),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(path, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, n_events // 70), n_events).astype(np.int64),
        "event_type": ch(["click", "signup", "error", "view", "purchase"], n_events),
        "value": cents(0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [
        " ".join(ch(_WORDS, int(k))) for k in rng.integers(8, 110, n_docs)
    ]
    _write(path, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": ch(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    write_embeddings(path, seed, max(500, int(20_000 * sf)))
    _finish(path, {"sf": sf, "lineitem_rows": n_line})
    return path
