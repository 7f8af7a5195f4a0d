"""Deterministic synthetic inputs for the lakehouse benchmark.

Writes the ten source tables the package reads (``region`` … ``events``,
``documents``, ``embeddings``; one parquet file each, the layout
``sources.loader.load_table`` expects) at a given scale factor. Schemas,
row counts and value distributions follow the reference test tables
described in ``TESTDATA.md`` (measured on them, since a benchmark
checkout carries only its own files):

- ``lineitem`` has four rows per order on average, each row drawn for a
  uniform order key, so lines per order are Poisson-like (some orders
  have none), rows are not clustered by order key, and
  ``(l_orderkey, l_linenumber)`` is not unique (``l_linenumber`` is
  uniform over 1..7); extended price, ship date and the flags are
  independent uniforms;
- keys of every other table are dense and uniform, 25 nations named
  ``NATION_<n>``, order dates 1995-01-01 .. 2001-08-01;
- event values are exponential with mean 50, capped below 490.03;
- documents are 10..99 tokens from a 30-word vocabulary, about 5% of
  them near-duplicates (a copy of an earlier document plus a trailing
  ``dup`` token);
- embeddings are unit-norm 64-d vectors with ten labels and only a
  weak cluster signal.

The base tables depend only on :data:`BASE_SEED` and the scale factor,
so the row counts frozen in ``expected.json`` stay valid for every
workload seed. Everything a workload seed changes (query order,
landing slices, re-landed updates, extra near-duplicate documents) is
derived in ``workloads.py`` from these tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
VOCAB = ("join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
DUP_SHARE = 0.05
DIM = 64


def _days(start: str, n: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "D").astype("datetime64[us]")
    return base + n.astype("timedelta64[D]")


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(100, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    npart = n["part"]
    price = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": price})

    no = n["orders"]
    odays = rng.integers(0, 2405, no)      # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(("O", "F", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days("1995-01-01", odays),
        "o_orderpriority": rng.choice(PRIORITIES, no)})

    nl = 4 * no
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        # 1995-01-02 .. 2001-11-04
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, nl))})

    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(np.minimum(rng.exponential(50.0, ne), 490.0)
                          + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    out["documents"] = documents(n["documents"], rng)
    out["embeddings"] = embeddings(n["embeddings"], rng)
    return out


def random_texts(n: int, rng) -> list[str]:
    lengths = rng.integers(10, 100, n)
    return [" ".join(rng.choice(VOCAB, k)) for k in lengths]


def near_duplicate(text: str) -> str:
    """A copy with one extra trailing token: MinHash/SimHash see it as
    a near-duplicate, exact hashing does not."""
    return text + " dup"


def documents(n: int, rng) -> pa.Table:
    texts = random_texts(n, rng)
    for i in range(1, n):
        if rng.random() < DUP_SHARE:
            texts[i] = near_duplicate(texts[int(rng.integers(0, i))])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(n: int, rng) -> pa.Table:
    centers = rng.normal(0.0, 0.005, (10, DIM))
    label = rng.integers(0, 10, n)
    x = centers[label] + rng.normal(0.0, 0.125, (n, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def ensure(sf: float, out_dir: str) -> str:
    """Generate the base tables once per checkout; later runs reuse
    them. A ``_DONE`` marker makes an interrupted generation redo."""
    marker = os.path.join(out_dir, "_DONE")
    if not os.path.exists(marker):
        write_tables(make_tables(sf), out_dir)
        open(marker, "w").close()
    return out_dir
