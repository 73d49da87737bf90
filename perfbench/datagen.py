"""Seeded inputs for the benchmark: the ten engine tables, the scraped
gas-price pages of the ingest workload, and the serve arrival schedule.

Everything here is a pure function of its seed: the same seed gives
byte-identical tables, the same pages and the same arrival times. The
table generator follows the value domains of the engine's star schema
(FIXTURES.md part B) at a fixed, small scale so one benchmark run fits
its time budget; the query set is dominated by fixed per-query cost
(plan construction, job launch) at this size, not by row volume.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated tables (the shape of the sf0.01 layout).
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "new", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "gizmo", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EMBED_DIM = 64


def _ts(days_from: dt.date, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    """n midnight timestamps, uniform over [days_from, days_from + n_days)."""
    base = np.datetime64(days_from.isoformat(), "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    np_ = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_PART_ADJ, np_), rng.choice(_PART_NOUN, np_)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": rng.choice(_PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(dt.date(1995, 1, 1), 2404, rng, no),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts(dt.date(1995, 1, 2), 2499, rng, nl),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(259.0, ne)
    offs_us = np.cumsum(gaps * 1e6).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + offs_us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(np.minimum(rng.exponential(50.0, ne), 490.0) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 95)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return out


def write_tables(seed: int, data_dir: str) -> None:
    """Write every table as ``<data_dir>/<name>.parquet`` (one file each,
    the layout catalog.load_table reads)."""
    os.makedirs(data_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))


# --- daily_ingest: scraped gas-price pages ---------------------------------

_BRANDS = ["Esso", "Shell", "Petro-Canada", "Ultramar", "Couche-Tard", "Irving"]
_STREETS = [
    "Du Commerce / René Lévesque",
    "Sherbrooke Est",
    "Côte-des-Neiges",
    "Saint-Laurent",
    "Notre-Dame Ouest",
    "Jean-Talon",
    "Papineau",
    "Décarie",
]
_CITIES = [
    "Montréal",
    "Verdun ( Île des Soeurs )",
    "Laval",
    "Longueuil",
    "Brossard",
    "Saint-Laurent",
]
_USERS = ["gasbuddy", "marc tremblay", "julie", "pierre l", "anon user"]
PRICE_CLASSES = ("greencell", "redcell", "pricecell")


def station_pool(seed: int, n: int) -> list[tuple[str, str]]:
    """(station, city) pairs; station names are unique."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for i in range(n):
        st = f"{rng.choice(_BRANDS)} {rng.choice(_STREETS)} #{i}"
        out.append((st, str(rng.choice(_CITIES))))
    return out


def _messy(text: str, rng: np.random.Generator) -> str:
    """An HTML rendering of ``text`` whose normalized cell text is
    ``text``: extra whitespace runs and an inline tag around one word."""
    words = text.split(" ")
    k = int(rng.integers(0, len(words)))
    words[k] = f"<b>{words[k]}</b>"
    return "\n  " + "   ".join(words) + " \n"


def make_pages(
    seed: int,
    date_index: int,
    pages: int = 40,
    rows_per_page: int = 250,
    stations: int = 2000,
) -> tuple[list[tuple[int, str]], list[dict]]:
    """One logical date's scraped pages and the rows they hold.

    Returns ``([(page_id, html), ...], rows)`` where ``rows`` are the
    typed records the extractor must produce (zip-truncated: some pages
    carry a surplus price cell that has no partner). A station appears
    at most once per page but on several pages of a date, and the pool
    repeats across dates with fresh prices, so the keyed upsert replaces
    rows within a date and its history grows with every date."""
    rng = np.random.default_rng([seed, 2, date_index])
    pool = station_pool(seed, stations)
    html_pages: list[tuple[int, str]] = []
    rows: list[dict] = []
    for page_id in range(pages):
        picks = rng.choice(len(pool), rows_per_page, replace=False)
        cells = []
        for j, s in enumerate(picks):
            station, city = pool[int(s)]
            price = f"{rng.uniform(140.0, 175.0):.1f}"
            hhmm = f"{int(rng.integers(0, 24)):02d}:{int(rng.integers(0, 60)):02d}"
            user = str(rng.choice(_USERS)) if rng.random() < 0.9 else ""
            cls = PRICE_CLASSES[int(rng.integers(0, 3))]
            cells.append(
                "<tr>"
                f'<td class="{cls}">{price}</td>'
                f'<td class="stationcell">{_messy(station, rng)}</td>'
                f"<td class='citycell'>{_messy(city, rng)}</td>"
                f'<td class="usercell">{hhmm} {user}</td>'
                "</tr>"
            )
            rows.append(
                {
                    "page_id": page_id,
                    "price": float(price),
                    "station": station,
                    "city": city,
                    "time": hhmm,
                    "user": user,
                }
            )
        if rng.random() < 0.25:  # surplus cell: dropped by zip truncation
            cells.append('<tr><td class="pricecell">199.9</td></tr>')
        html_pages.append((page_id, "<table>" + "".join(cells) + "</table>"))
    return html_pages, rows


def expected_upsert(
    dated_rows: list[tuple[str, list[dict]]],
) -> dict[tuple[str, str], tuple]:
    """Last-write-wins per (date, station) over the given dates' rows,
    later pages winning within a date (the sink's key and order):
    {(date, station): (price, city, time, user, page_id)}."""
    out: dict[tuple[str, str], tuple] = {}
    for date, rows in dated_rows:
        for r in rows:
            key = (date, r["station"])
            prev = out.get(key)
            if prev is None or r["page_id"] >= prev[4]:
                out[key] = (r["price"], r["city"], r["time"], r["user"], r["page_id"])
    return out


# --- serve_prices: open-loop arrival schedule ------------------------------

ENDPOINTS = ("/prices/today", "/prices/alltime")


def arrival_schedule(
    seed: int, rate_per_s: float, seconds: float
) -> list[tuple[float, str]]:
    """Poisson arrivals at ``rate_per_s`` over ``[0, seconds)``: a sorted
    list of (offset_s, path), each path picked with probability 1/2."""
    rng = np.random.default_rng([seed, 3])
    out: list[tuple[float, str]] = []
    t = 0.0
    while True:
        t += float(rng.exponential(1.0 / rate_per_s))
        if t >= seconds:
            return out
        out.append((t, ENDPOINTS[int(rng.integers(0, 2))]))
