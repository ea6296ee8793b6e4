"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the engine's query surface registers (the same
names, columns and types as the repository's test data) under one
directory, so the engine under test reads only what this module made
from ``seed``. Value domains follow the query contracts: money and
rates are 2-dp, keys are dense from 0, the string domains are the ones
the reconciliation and pricing reports group by.

``documents`` holds the base corpus the ``ingest`` workload builds its
micro-batches from.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def sizes(scale: float) -> dict[str, int]:
    """Row counts at ``scale`` (1.0 = 1.5M orders, TPC-H's sf1 ratio)."""
    n = lambda base: max(int(base * scale), 10)  # noqa: E731
    return {
        "customer": n(150_000),
        "orders": n(1_500_000),
        "part": n(200_000),
        "supplier": n(10_000),
        "events": n(1_000_000),
        "documents": n(50_000),
        "embeddings": n(20_000),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def generate(out_dir: str, scale: float, seed: int, tables=TABLES) -> dict[str, int]:
    """Write ``tables`` for ``scale`` under ``out_dir``; returns row
    counts. The same (scale, seed) always writes the same values, and a
    table's values do not depend on which other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    want = set(tables)

    def rng(name):
        return np.random.default_rng([seed, TABLES.index(name)])

    if "region" in want:
        _write(out_dir, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if "nation" in want:
        _write(out_dir, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    if "customer" in want:
        r = rng("customer")
        _write(out_dir, "customer", {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": r.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(r, -999, 9999, nc),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)],
        })
    if "supplier" in want:
        r = rng("supplier")
        _write(out_dir, "supplier", {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": r.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(r, -999, 9999, ns),
        })
    if "part" in want:
        r = rng("part")
        adjectives = np.array(["blue", "cold", "large", "small", "green", "hot"])
        nouns = np.array(["bolt", "rod", "widget", "gear", "nut"])
        _write(out_dir, "part", {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(adjectives[r.integers(0, 6, npart)], " "),
                nouns[r.integers(0, 5, npart)],
            ),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, npart).astype(str)),
            "p_type": np.array(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
            )[r.integers(0, 6, npart)],
            "p_size": r.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(npart) % 1000 * 0.1, 2),
        })

    no = n["orders"]
    if want & {"orders", "lineitem"}:
        r = rng("lineitem")
        lines_per = r.integers(1, 8, no)
        nl = int(lines_per.sum())
        starts = np.cumsum(lines_per) - lines_per
        qty = r.integers(1, 51, nl).astype(np.float64)
        ext = np.round(qty * r.uniform(900, 2100, nl), 2)
        disc = r.integers(0, 11, nl) / 100.0
        tax = r.integers(0, 9, nl) / 100.0
        orderdate_days = r.integers(0, 2404, no)
        shipdate = EPOCH_1995 + (
            np.repeat(orderdate_days, lines_per) + r.integers(1, 122, nl)
        ) * DAY_US
        n["lineitem"] = nl
        if "lineitem" in want:
            _write(out_dir, "lineitem", {
                "l_orderkey": np.repeat(np.arange(no, dtype=np.int64), lines_per),
                "l_partkey": r.integers(0, npart, nl, dtype=np.int64),
                "l_suppkey": r.integers(0, ns, nl, dtype=np.int64),
                "l_linenumber": (
                    np.arange(nl) - np.repeat(starts, lines_per) + 1
                ).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": ext,
                "l_discount": disc,
                "l_tax": tax,
                "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
                "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
                "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
            })
        if "orders" in want:
            r = rng("orders")
            # header totals agree with the detail lines for most orders;
            # the rest drift so every reconciliation status occurs
            charge = np.round(ext * (1 - disc) * (1 + tax), 2)
            totals = np.round(np.add.reduceat(charge, starts), 2)
            drift = r.random(no) < 0.05
            totals = np.where(drift, np.round(totals + r.uniform(1, 50, no), 2), totals)
            _write(out_dir, "orders", {
                "o_orderkey": np.arange(no, dtype=np.int64),
                "o_custkey": r.integers(0, nc, no, dtype=np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
                "o_totalprice": totals,
                "o_orderdate": pa.array(
                    EPOCH_1995 + orderdate_days * DAY_US, pa.timestamp("us")
                ),
                "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)],
            })

    if "events" in want:
        r, ne = rng("events"), n["events"]
        _write(out_dir, "events", {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + np.sort(r.integers(0, 30 * DAY_US, ne)),
                pa.timestamp("us"),
            ),
            "user_id": r.integers(0, max(ne // 50, 1), ne, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
            "value": _money(r, 0, 500, ne),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
        })
    if "documents" in want:
        r, nd = rng("documents"), n["documents"]
        texts = [_text(r, int(k)) for k in r.integers(8, 90, nd)]
        _write(out_dir, "documents", {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, 5, nd)],
            "source": [f"src{i % 5}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if "embeddings" in want:
        r, nv = rng("embeddings"), n["embeddings"]
        vecs = r.normal(0, 0.15, (nv, 16)).astype(np.float32)
        _write(out_dir, "embeddings", {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": r.integers(0, 10, nv).astype(np.int32),
        })
    return n
