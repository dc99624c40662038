"""Seeded benchmark inputs, written with pyarrow so that making them costs
no Spark time.

- ``write_world``: the produce-path sources in the FIXTURES.md schemas —
  ``blocks`` (geoid, lon, lat) and ``blockpop`` (population, county, tract,
  block under ``state=SS`` Hive directories).  The whole world spans about
  2.2 x 1.2 degrees, so each tract lies within the 300 km destination
  buffer of every state's centre: destinations are every tract of the world.
- ``write_corpus``: the ten registry tables (TPC-H-like facts plus events,
  documents and embeddings) in the schemas of the test corpus, scaled by
  ``sf`` (sf=1 is 1.5M orders).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class WorldShape:
    states: tuple[str, ...]
    counties: int
    tracts: int
    blocks: int

    @property
    def tracts_per_state(self) -> int:
        return self.counties * self.tracts

    @property
    def pairs_per_state(self) -> int:
        return self.tracts_per_state * self.tracts_per_state * len(self.states)


def world_tracts(shape: WorldShape, state: str) -> list[str]:
    """The tract GEOIDs of one state: the origins of its O×D matrix."""
    return [
        f"{state}{c + 1:03d}{t + 1:06d}"
        for c in range(shape.counties)
        for t in range(shape.tracts)
    ]


def write_world(root: str, shape: WorldShape, seed: int) -> tuple[str, str]:
    """Write ``blocks`` and ``blockpop`` under ``root``; return both paths."""
    rng = np.random.default_rng(seed)
    geoid, lon, lat = [], [], []
    pop = {"state": [], "county": [], "tract": [], "block": [], "population": []}
    for si, state in enumerate(shape.states):
        for ci in range(shape.counties):
            for ti in range(shape.tracts):
                # a tract is a cell of a per-state grid; its blocks jitter
                # inside the cell
                base_lon = -88.0 + 0.75 * si + 0.7 * (ci / shape.counties)
                base_lat = 41.0 + 1.2 * (ti / shape.tracts)
                for bi in range(shape.blocks):
                    county, tract = f"{ci + 1:03d}", f"{ti + 1:06d}"
                    block = f"{bi % 9 + 1}{bi:03d}"
                    geoid.append(f"{state}{county}{tract}{block}")
                    lon.append(base_lon + rng.uniform(0.0, 0.7 / shape.counties))
                    lat.append(base_lat + rng.uniform(0.0, 1.2 / shape.tracts))
                    pop["state"].append(state)
                    pop["county"].append(county)
                    pop["tract"].append(tract)
                    pop["block"].append(block)
                    # zero-population blocks exercise the unweighted fallback
                    pop["population"].append(
                        0 if rng.random() < 0.1 else int(rng.integers(1, 5000))
                    )
    os.makedirs(root, exist_ok=True)
    blocks_path = os.path.join(root, "blocks.parquet")
    pq.write_table(
        pa.table({"geoid": geoid, "lon": lon, "lat": lat}), blocks_path
    )
    blockpop_root = os.path.join(root, "blockpop", "year=2024")
    table = pa.table(
        {
            "population": pa.array(pop["population"], pa.int32()),
            "county": pop["county"],
            "tract": pop["tract"],
            "block": pop["block"],
            "state": pop["state"],
        }
    )
    pq.write_to_dataset(
        table, blockpop_root, partition_cols=["state"],
        existing_data_behavior="delete_matching",
    )
    return blocks_path, blockpop_root


_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DAY_US = 86_400_000_000


def _dates(rng, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, n: int, values: list[str], p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def write_corpus(root: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables as ``<root>/<table>.parquet``; return
    their row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_users, n_docs = max(int(15_000 * sf), 50), int(50_000 * sf)
    n_vec, dim = int(50_000 * sf), 64
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(
                rng, n_cust,
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    _pick(rng, n_part, "blue cold hot large new old red small".split()),
                    _pick(rng, n_part, "anvil bolt gear gizmo plate ring rod widget".split()),
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": _pick(
                rng, n_part, "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        },
        "orders": {
            "o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, n_ord, ["F", "O", "P"]),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(
                rng, n_ord,
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, n_line, ["A", "N", "R"]),
            "l_linestatus": _pick(rng, n_line, ["F", "O"]),
            "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
        },
    }
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + start_us
    tables["events"] = {
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, n_ev, ["click", "error", "purchase", "signup", "view"]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    # one document in twenty is an earlier one with " dup" appended: the
    # near-duplicates the dedup and similarity queries look for
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(_pick(rng, n_tok, _VOCAB)))
    tables["documents"] = {
        "doc_id": pa.array(range(n_docs), i64),
        "text": texts,
        "lang": _pick(rng, n_docs, ["en", "zh", "es", "de", "fr"], p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    }
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(size=(10, dim))
    vecs = rng.normal(size=(n_vec, dim)) + 0.15 * centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(range(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    }
    os.makedirs(root, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
