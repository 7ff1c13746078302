"""Seeded input generation for the benchmark (untimed).

Two kinds of input:

* ``write_tables`` writes the registry's ten TPC-H-ish tables (region,
  nation, customer, supplier, part, orders, lineitem, events, documents,
  embeddings) as Parquet, with the same schemas, key ranges and value
  domains as the tables the registry queries are written against. Row
  counts scale with ``sf`` the same way (lineitem = 6e6 * sf).
* ``write_beta_scan`` writes a FIXTURES.md section 1 shaped two-device
  beta scan (Landau x Gauss charge, CFD times t_10..t_90 with a shared
  per-trigger jitter) as Feather files, the reference's storage format.

Both are pure functions of their arguments: the same seed gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.feather as feather
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z

THRESHOLDS = list(range(10, 100, 10))
TRUE_JITTER = 40e-12  # per-device CFD jitter the beta scan injects (s)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """The registry's ten input tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n_line) * _DAY_US),
    })
    span_us = 30 * _DAY_US
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts(_EPOCH_2024_US + np.sort(rng.integers(0, span_us, n_evt))),
        "user_id": rng.integers(0, n_users, n_evt).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = [
        " ".join(rng.choice(WORDS, int(n)))
        for n in rng.integers(10, 100, n_docs)
    ]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 0.14 / 8.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.125, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })


def write_beta_scan(path: str, n_triggers: int, seed: int, n_files: int = 2) -> None:
    """A two-device beta scan, one row per (n_trigger, device_name),
    split over ``n_files`` Feather files in directory ``path``."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    trig = np.arange(n_triggers, dtype="int64")
    t50 = 50e-9 + rng.normal(0.0, TRUE_JITTER, n_triggers)  # shared edge
    frames = []
    for dev, (mpv, xi, sigma_q, dt0) in {
        "MS07": (20e-12, 2e-12, 1e-12, 0.0),
        "MS08": (22e-12, 2.2e-12, 1e-12, 0.3e-9),
    }.items():
        z = -np.log(rng.chisquare(1, n_triggers))  # Moyal sample
        charge = mpv + xi * z + rng.normal(0.0, sigma_q, n_triggers)
        edge = t50 + dt0 + rng.normal(0.0, TRUE_JITTER, n_triggers)
        cols = {
            "n_trigger": trig,
            "device_name": np.full(n_triggers, dev),
            "Amplitude (V)": charge / 40e-12,
            "Collected charge (V s)": charge,
            "Noise (V)": rng.normal(2e-3, 2e-4, n_triggers),
        }
        for k in THRESHOLDS:
            cols[f"t_{k} (s)"] = (
                edge + (k - 50) / 100.0 * 1e-9 + rng.normal(0.0, 2e-12, n_triggers)
            )
        frames.append(pa.table(cols))
    table = pa.concat_tables(frames)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        feather.write_feather(
            table.slice(i * step, step), os.path.join(path, f"part-{i}.fd"),
            compression="uncompressed",
        )
