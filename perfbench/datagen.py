"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the seed: the same seed writes the
same rows. The parquet tables keep the schema, value domains and join
fan-out of the TPC-H-ish testdata layout (TESTDATA.md) the catalog
entries and their DuckDB oracles are written against; the pandas
frames keep the FIXTURES.md shapes, including the schema stresses
(mixed-case ``RH``, names with spaces, colliding ``Type``/``Attribute``
columns, numeric-string column names).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the shape of the sf0.01 testdata directory.
TPCH_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000}
LINES_PER_ORDER = 4
EVENTS_ROWS = 10_000
DOCS_ROWS = 200
FOREST_ROWS = 100_000
EMB_DIM = 64

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "blue", "hot", "green", "large", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "valve", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _day_stamps(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def tpch_tables(seed: int) -> dict[str, pd.DataFrame]:
    """region/nation/customer/supplier/part/orders/lineitem/events."""
    rng = np.random.default_rng([seed, 1])
    n = TPCH_ROWS
    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n["supplier"]), 2),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_PART_ADJ, n["part"]), rng.choice(_PART_NOUN, n["part"])
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2),
        }
    )
    n_orders = n["orders"]
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": _day_stamps(rng, n_orders, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    per_order = rng.integers(1, 2 * LINES_PER_ORDER, n_orders)
    l_orderkey = np.repeat(orders["o_orderkey"].to_numpy(), per_order)
    n_lines = len(l_orderkey)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n["part"], n_lines).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], n_lines).astype(np.int64),
            "l_linenumber": (np.arange(n_lines) - starts + 1).astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n_lines), 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": np.repeat(orders["o_orderdate"].to_numpy(), per_order)
            + rng.integers(1, 122, n_lines).astype("timedelta64[D]"),
        }
    )
    n_ev = EVENTS_ROWS
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype(
                "timedelta64[us]"
            ),
            "user_id": rng.integers(0, max(1, n_ev // 100), n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def corpus_tables(seed: int) -> dict[str, pd.DataFrame]:
    """documents (with exact and near duplicates) + unit embeddings
    clustered by label; ``vec_id`` equals ``doc_id``."""
    rng = np.random.default_rng([seed, 2])
    n_docs = DOCS_ROWS
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i >= 10 and r < 0.05:  # near duplicate: one appended word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 10 and r < 0.07:  # near duplicate: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        elif i >= 10 and r < 0.08:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(8, 100)))))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_docs).astype(np.int32)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = centers[labels] + rng.normal(scale=1.4, size=(n_docs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_docs, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels,
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def write_parquet_dir(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One single-file parquet per table, ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, frame in tables.items():
        table = pa.Table.from_pandas(frame, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1,
                "embedding",
                pa.array(frame["embedding"].tolist(), pa.list_(pa.float32())),
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


_MONTHS = ["jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep", "oct", "nov", "dec"]
_DAYS = ["mon", "tue", "wed", "thu", "fri", "sat", "sun"]
_ATTRS = ["Neutral", "Fire", "Water", "Plant", "Electric", "Wind", "Earth", "Light", "Dark"]


def fixture_frames(seed: int) -> dict[str, pd.DataFrame]:
    """forest_fires / digimon_mon_list / digimon_move_list / avocado
    shaped like FIXTURES.md, ``FOREST_ROWS`` rows in the main table."""
    rng = np.random.default_rng([seed, 3])
    n = FOREST_ROWS
    forest = pd.DataFrame(
        {
            "X": rng.integers(1, 10, n),
            "Y": rng.integers(2, 10, n),
            "month": rng.choice(_MONTHS, n),
            "day": rng.choice(_DAYS, n),
            "FFMC": np.round(rng.uniform(18, 96, n), 1),
            "DMC": np.round(rng.uniform(1, 291, n), 1),
            "DC": np.round(rng.uniform(7, 860, n), 1),
            "ISI": np.round(rng.uniform(0, 56, n), 1),
            "temp": np.round(rng.uniform(2, 33, n), 1),
            "RH": rng.integers(15, 101, n),
            "wind": np.round(rng.uniform(0.4, 9.4, n), 1),
            "rain": np.where(rng.random(n) < 0.9, 0.0, np.round(rng.uniform(0.1, 6.4, n), 1)),
            "area": np.where(rng.random(n) < 0.5, 0.0, np.round(rng.exponential(12.0, n), 2)),
        }
    )
    n_mon, n_move = 249, 387
    mon = pd.DataFrame(
        {
            "Number": np.arange(1, n_mon + 1),
            "Digimon": [f"mon_{i}" for i in range(1, n_mon + 1)],
            "Stage": rng.choice(["Baby", "In-Training", "Rookie", "Champion", "Ultimate", "Mega"], n_mon),
            "Type": rng.choice(["Free", "Virus", "Vaccine", "Data"], n_mon),
            "Attribute": rng.choice(_ATTRS, n_mon),
            "Memory": rng.integers(2, 21, n_mon),
            "Equip Slots": rng.integers(0, 4, n_mon),
            "Lv 50 HP": rng.integers(500, 2000, n_mon),
            "Lv50 SP": rng.integers(50, 300, n_mon),
            "Lv50 Atk": rng.integers(50, 300, n_mon),
            "Lv50 Def": rng.integers(50, 300, n_mon),
            "Lv50 Int": rng.integers(50, 300, n_mon),
            "Lv50 Spd": rng.integers(50, 300, n_mon),
        }
    )
    mon["mon_attribute"] = mon["Attribute"]
    move = pd.DataFrame(
        {
            "Move": [f"move_{i}" for i in range(n_move)],
            "SP Cost": rng.integers(1, 30, n_move),
            "Type": rng.choice(["Physical", "Magic", "Support"], n_move),
            "Power": rng.integers(0, 120, n_move),
            "Attribute": rng.choice(_ATTRS, n_move),
            "Inheritable": rng.choice(["Yes", "No"], n_move),
            "Description": [f"Deals damage, level {i % 7}" for i in range(n_move)],
        }
    )
    move["move_attribute"] = move["Attribute"]
    n_avo = 5_000
    avocado = pd.DataFrame(
        {
            "avocado_id": np.arange(n_avo),
            "Date": (
                np.datetime64("2015-01-04")
                + rng.integers(0, 1200, n_avo).astype("timedelta64[D]")
            ).astype(str),
            "AveragePrice": np.round(rng.uniform(0.5, 3.2, n_avo), 2),
            "Total Volume": np.round(rng.uniform(100, 60000, n_avo), 2),
            "4046": np.round(rng.uniform(0, 20000, n_avo), 2),
            "4225": np.round(rng.uniform(0, 20000, n_avo), 2),
            "4770": np.round(rng.uniform(0, 2000, n_avo), 2),
            "type": rng.choice(["conventional", "organic"], n_avo),
            "year": rng.integers(2015, 2019, n_avo),
            "region": rng.choice(["Albany", "Atlanta", "Boise", "Boston", "Chicago"], n_avo),
        }
    )
    return {
        "forest_fires": forest,
        "digimon_mon_list": mon,
        "digimon_move_list": move,
        "avocado": avocado,
    }
