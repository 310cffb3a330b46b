"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so one seed always yields byte-identical inputs. The runner
calls them off the set-up clock.

- ``star_schema``: the ten fixture tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) in the shape of the
  repository's test fixtures (TESTDATA.md), one parquet file each.
- ``corpus``: ``documents`` only, with dense ``doc_id`` from 0,
  same-language runs of seeded lengths and near-duplicate documents.
- ``netcdf_members``: classic NetCDF-3 ensemble members written with the
  vendored ``write_netcdf3``; the arrays are returned for the numpy
  reference checks.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
ADJ = ("small", "red", "blue", "hot", "old", "big", "green", "cold")
NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve")
PTYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("error", "click", "view", "signup", "purchase")
EMBED_DIM = 64


def _write(out_dir: str, name: str, cols: dict) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def _days(start: str, n_days: int, rng, n: int) -> pa.Array:
    """``n`` midnight timestamps in the ``n_days`` days from ``start``."""
    base = np.datetime64(start, "us").astype(np.int64)
    off = rng.integers(0, n_days, n) * 86_400_000_000
    return pa.array(base + off, type=pa.timestamp("us"))


def _texts(rng, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    toks = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS, dtype=object)[toks]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(words[pos : pos + ln]))
        pos += ln
    return out


def _add_near_dups(rng, texts: list[str], share: float) -> list[str]:
    """Replace a seeded share of documents with a later document plus the
    marker word ``dup`` (the fixture's near-duplicate pattern)."""
    n = len(texts)
    for i in rng.choice(n - 1, size=int(n * share), replace=False):
        j = int(rng.integers(i + 1, n))
        texts[i] = texts[j] + " dup"
    return texts


def _lang_runs(rng, n: int, longest: int = 12) -> list[str]:
    """Languages in same-language runs of seeded lengths, at most
    ``longest``. One run of exactly ``longest`` sits at a seeded position:
    the connected-components round count follows the longest run, so it
    is the same for every seed and the work per pass does not vary with
    the seed."""
    def pick(*avoid: str) -> str:
        while True:
            lang = LANGS[rng.choice(len(LANGS), p=LANG_P)]
            if lang not in avoid:
                return lang

    out: list[str] = []
    while len(out) < n:
        run = int(min(rng.geometric(0.45), longest - 1))
        out.extend([pick(*out[-1:])] * run)
    at = int(rng.integers(1, n - longest - 1))
    out[at : at + longest] = [pick(out[at - 1], out[at + longest])] * longest
    return out[:n]


def _documents(rng, n: int, runs: bool) -> dict:
    texts = _add_near_dups(rng, _texts(rng, n), 0.05)
    langs = _lang_runs(rng, n) if runs else [
        LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)
    ]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int) -> dict:
    centers = rng.normal(0.0, 0.15, (10, EMBED_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    vecs = (centers[label] + rng.normal(0.0, 0.05, (n, EMBED_DIM))).astype(
        np.float32
    )
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def star_schema(rng, out_dir: str, n_lineitem: int) -> dict:
    """Write the ten fixture tables; sizes scale with ``n_lineitem``
    (600_000 is the sf0.1 shape). Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_orders = n_lineitem // 4
    n_cust = max(n_lineitem // 40, 100)
    n_part = max(n_lineitem // 30, 100)
    n_supp = max(n_lineitem // 600, 10)
    n_events = n_lineitem // 6
    n_docs = max(n_lineitem // 120, 200)
    n_emb = max(n_lineitem // 300, 100)
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(rng.integers(-99999, 999999, n_cust) / 100),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(rng.integers(-99999, 999999, n_supp) / 100),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": pa.array(
                np.array(PTYPES, dtype=object)[rng.integers(0, 6, n_part)]
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
            "o_orderstatus": pa.array(
                np.array(list("PFO"), dtype=object)[rng.integers(0, 3, n_orders)]
            ),
            "o_totalprice": pa.array(
                rng.integers(100000, 50000000, n_orders) / 100
            ),
            "o_orderdate": _days("1995-01-01", 2405, rng, n_orders),
            "o_orderpriority": pa.array(
                np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_orders)]
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lineitem)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lineitem)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lineitem)),
            "l_linenumber": pa.array(
                rng.integers(1, 8, n_lineitem, dtype=np.int32)
            ),
            "l_quantity": pa.array(
                rng.integers(1, 51, n_lineitem).astype(np.float64)
            ),
            "l_extendedprice": pa.array(
                rng.integers(90000, 10500000, n_lineitem) / 100
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_lineitem) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_lineitem) / 100),
            "l_returnflag": pa.array(
                np.array(list("ANR"), dtype=object)[
                    rng.integers(0, 3, n_lineitem)
                ]
            ),
            "l_linestatus": pa.array(
                np.array(list("FO"), dtype=object)[
                    rng.integers(0, 2, n_lineitem)
                ]
            ),
            "l_shipdate": _days("1995-01-02", 2499, rng, n_lineitem),
        },
        "events": {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(
                np.sort(
                    np.datetime64("2024-01-01", "us").astype(np.int64)
                    + rng.integers(0, 30 * 86_400_000_000, n_events)
                ),
                type=pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(n_events // 66, 10), n_events)),
            "event_type": pa.array(
                np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_events)]
            ),
            "value": pa.array(
                np.round(rng.exponential(40.0, n_events), 2)
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        },
        "documents": _documents(rng, n_docs, runs=False),
        "embeddings": _embeddings(rng, n_emb),
    }
    rows, size = {}, 0
    for name, cols in tables.items():
        size += _write(out_dir, name, cols)
        rows[name] = len(next(iter(cols.values())))
    return {"rows": rows, "bytes": size}


def corpus(rng, out_dir: str, n_docs: int) -> dict:
    """Write ``documents`` (language runs, near-duplicates) for the
    iterative workload."""
    os.makedirs(out_dir, exist_ok=True)
    size = _write(out_dir, "documents", _documents(rng, n_docs, runs=True))
    return {"rows": {"documents": n_docs}, "bytes": size}


def netcdf_members(
    rng, out_dir: str, members: int, n_time: int, n_lat: int, n_lon: int
) -> dict:
    """Write ``members`` classic NetCDF files ``m{i}.nc`` holding a daily
    float32 ``tas`` field on a regular global grid. Returns the grid, the
    per-member arrays (as decoded: float32 widened to float64) and sizes."""
    from bcdp_spark.sources.netcdf3 import write_netcdf3

    os.makedirs(out_dir, exist_ok=True)
    lat = -90.0 + (np.arange(n_lat) + 0.5) * (180.0 / n_lat)
    lon = (np.arange(n_lon) + 0.5) * (360.0 / n_lon)
    days = np.arange(n_time, dtype=np.float64)
    times = pd.Timestamp("2001-01-01") + pd.to_timedelta(days, unit="D")
    season = np.sin(2 * np.pi * days / 365.0)[:, None, None]
    base = 288.0 - 30.0 * np.abs(np.sin(np.radians(lat)))[None, :, None]
    data, size = {}, 0
    for m in range(members):
        field = (
            base
            + 8.0 * season
            + rng.normal(0.0, 2.0, (n_time, n_lat, n_lon))
            + m * 0.5
        ).astype(np.float32)
        raw = write_netcdf3(
            dims={"time": n_time, "lat": n_lat, "lon": n_lon},
            variables={
                "time": (["time"], days,
                         {"units": "days since 2001-01-01",
                          "calendar": "standard"}),
                "lat": (["lat"], lat, {"units": "degrees_north"}),
                "lon": (["lon"], lon, {"units": "degrees_east"}),
                "tas": (["time", "lat", "lon"], field, {"units": "K"}),
            },
            record_dim="time",
        )
        name = f"m{m}.nc"
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(raw)
        size += len(raw)
        data[name] = field.astype(np.float64)
    return {
        "lat": lat, "lon": lon, "times": np.asarray(times, dtype="datetime64[us]"),
        "data": data, "bytes": size,
        "cells": members * n_time * n_lat * n_lon,
    }
