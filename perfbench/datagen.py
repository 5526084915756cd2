"""Seeded generator for the benchmark's input tables.

Writes the ten tables the package reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
single-row-group SNAPPY parquet file each, with the row counts, column
names and dtypes of the sf0.01 test tables and the value distributions
measured on the sf0.01 and sf0.1 test tables (perfbench/README.md,
"Inputs", has the figures):

- keys are dense ranges; foreign keys are uniform over their parent;
- TPC-H-style attributes are independent uniforms over the same
  domains (dates, prices, flags, priorities, segments);
- events are 30 days of microsecond timestamps in ascending order from
  2024-01-01, with event_id equal to the rank of ts, one user per
  EVENTS_PER_USER events on average, and exponential(50) values;
- documents are 10..99 words drawn uniformly from a 30-word
  vocabulary; 5% of them are another document's text with the word
  "dup" appended (two that copy the same document are exact copies);
- embeddings are unit-norm 64-dimensional Gaussian vectors with a
  uniform label in 0..9.

The same seed always yields byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the sf0.01 sizes of the test tables.
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_SOURCES = 20
DUP_SHARE = 0.05
EVENTS_PER_USER = 200 / 3  # 150 users at sf0.01, 1,500 at sf0.1

_EPOCH = dt.datetime(1970, 1, 1)


def _days(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH).days


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = ROWS["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = ROWS["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = ROWS["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype="int64")),
            "p_name": _pick(rng, names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)
            ),
        }
    )
    no = ROWS["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _ts_days(
                rng.integers(_days(1995, 1, 1), _days(2001, 8, 1) + 1, no)
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = ROWS["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, npart, nl)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _ts_days(
                rng.integers(_days(1995, 1, 2), _days(2001, 11, 4) + 1, nl)
            ),
        }
    )
    ne = ROWS["events"]
    start_us = _days(2024, 1, 1) * 86_400_000_000
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span_us, ne, replace=False)) + start_us
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype="int64")),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, round(ne / EVENTS_PER_USER), ne)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    t["documents"] = _documents(rng, ROWS["documents"])
    nv = ROWS["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype="int64")),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv).astype("int32")),
        }
    )
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    vocab = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 100, nd)
    ]
    # near-duplicates: another document's text plus one marker word
    for i in rng.choice(nd, int(nd * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(np.asarray(LANGS, dtype=object), nd, p=LANG_P)),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(nd)]),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def generate(out_dir: str, seed: int) -> str:
    """Write the table set for `seed` into the new directory `out_dir`
    and return `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)
    for name, table in _tables(rng).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return out_dir
