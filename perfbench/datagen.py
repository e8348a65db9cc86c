"""Seeded input generator for the benchmark.

The tables a workload reads come from here: the TPC-H-ish star schema
plus the ``events`` / ``documents`` / ``embeddings`` extension tables
(same names, columns and types as the fixture layout ``sparketl.io``
loads), and the DML op log with its change sheets. The same seed gives
the same parquet contents and the same op lists.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at sf 1.0; every table scales linearly except the
# fixed-size dimensions
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
DAY_US = 86_400_000_000


def table_rows(sf: float) -> dict[str, int]:
    return {t: max(10, int(n * sf)) for t, n in BASE_ROWS.items()}


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; returns the
    row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    ts_us = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), npart)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(retail),
    })
    no = n["orders"]
    odate = EPOCH_1995_US + rng.integers(0, 2400, no) * DAY_US
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(odate, ts_us),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })
    nl = n["lineitem"]
    lpart = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ext = np.round(qty * retail[lpart] + rng.integers(0, 100, nl) / 100.0, 2)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(lpart),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(1, 2500, nl) * DAY_US, ts_us),
    })
    ne = n["events"]
    gaps = np.maximum(1, rng.exponential(259e6, ne).astype(np.int64))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024_US + np.cumsum(gaps), ts_us),
        "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), nd)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {"region": 5, "nation": 25, **n}


# -- table_dml op log ---------------------------------------------------------

# the managed table is seeded from orders; these are its columns
DML_COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
DML_KINDS = ("ingest_append", "ingest_update", "upsert", "merge", "delete")
READ_KINDS = ("read_point", "read_range", "read_version")


@dataclass
class DmlOp:
    kind: str
    rows: list[tuple] = field(default_factory=list)  # change rows, DML_COLUMNS order
    predicate: str | None = None  # delete / read filter
    version_back: int = 0  # read_version: how many commits back
    path: str | None = None  # the change rows as a parquet file
    nbytes: int = 0  # its size: the write-amplification denominator


def _row(rng: random.Random, key, status_null: bool = False) -> tuple:
    return (
        key,
        rng.randrange(0, 1500),
        None if status_null else rng.choice("FOP"),
        round(rng.uniform(1000.0, 500000.0), 2),
        rng.choice(PRIORITIES),
    )


def dml_ops(seed: int, n_orders: int, batch_rows: int) -> list[DmlOp]:
    """Seeded op log: each write kind once, in seeded order, plus one
    pruned read (point or range) and one time-travel read, each after a
    seeded write, so every seed does the same mix of work. Keys at or
    above ``n_orders`` are fresh (inserts); update worksheets carry NULL
    keys and repeated keys the way imported sheets do. The MERGE source has unique keys, as SQL MERGE requires."""
    rng = random.Random(seed)
    next_key = n_orders
    ops: list[DmlOp] = []
    kinds = list(DML_KINDS)
    rng.shuffle(kinds)
    reads: list[str | None] = [rng.choice(READ_KINDS[:2]), "read_version"]
    reads += [None] * (len(kinds) - len(reads))
    rng.shuffle(reads)
    for kind, read in zip(kinds, reads):
        if kind == "ingest_append":
            ops.append(DmlOp(kind, [_row(rng, next_key + j) for j in range(batch_rows)]))
            next_key += batch_rows
        elif kind == "delete":
            lo = rng.randrange(0, next_key)
            ops.append(DmlOp(kind, predicate=f"o_orderkey >= {lo} AND o_orderkey < {lo + 40}"))
        else:
            keys = rng.sample(range(next_key), batch_rows)
            if kind != "merge":
                keys += rng.sample(keys, max(1, batch_rows // 10))  # repeated keys
            if kind != "ingest_update":
                keys += range(next_key, next_key + batch_rows // 4)  # inserts
                next_key += batch_rows // 4
            rows = [_row(rng, k, status_null=rng.random() < 0.1) for k in keys]
            if kind == "ingest_update":
                rows += [_row(rng, None) for _ in range(max(1, batch_rows // 20))]
            rng.shuffle(rows)
            ops.append(DmlOp(kind, rows))
        if read is None:
            continue
        if read == "read_point":
            ops.append(DmlOp(read, predicate=f"o_orderkey = {rng.randrange(0, next_key)}"))
        elif read == "read_range":
            lo = rng.randrange(0, next_key)
            ops.append(DmlOp(read, predicate=f"o_orderkey BETWEEN {lo} AND {lo + 200}"))
        else:
            ops.append(DmlOp(read, version_back=rng.randrange(1, 4)))
    return ops


def write_rows_parquet(path: str, rows: list[tuple]) -> int:
    """Encode change rows once as parquet (the write-amplification
    denominator); returns the file size in bytes."""
    cols = list(zip(*rows)) if rows else [[] for _ in DML_COLUMNS]
    table = pa.table({
        "o_orderkey": pa.array(cols[0], pa.int64()),
        "o_custkey": pa.array(cols[1], pa.int64()),
        "o_orderstatus": pa.array(cols[2], pa.string()),
        "o_totalprice": pa.array(cols[3], pa.float64()),
        "o_orderpriority": pa.array(cols[4], pa.string()),
    })
    pq.write_table(table, path)
    return os.path.getsize(path)
