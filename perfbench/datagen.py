"""Seeded input tables for the benchmark.

The ten tables have the names, columns and physical types of the engine's
test data (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings; one parquet file each, so the DuckDB
oracles read the same files as the engine). A base copy is synthesised
at the shape of the sf0.01 test data, with uniform distributions like
those of the test-data generator. ``factor`` copies of it are then
written out with the structure-preserving replication of
``tools/scale_probe._replicate``:

- entity keys are shifted by a per-copy offset, so every copy is a
  coherent sub-database and joins never cross copies;
- document tokens are tagged per copy, so a copy keeps its own near-dup
  structure but shares no shingles with the others;
- embeddings are dimension-rotated per copy, so within-copy geometry is
  kept and cross-copy cosines are near random;
- nation and region are bounded dimensions and are written once.

The seed picks the base content, the per-copy offsets, tags and
rotations, and the row order of every table. The same (seed, factor)
always gives byte-identical files, and the output is cached under that
key.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per base copy (the sf0.01 test-data shape)
BASE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
USERS = 150
EMBED_DIM = 64
#: key columns shifted per copy; the stride exceeds every base key range
SHIFTED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
KEY_STRIDE = 1_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
TABLES = ("region", "nation", *BASE_ROWS)


def _days(start: str, n: int, span_days: int, rng: np.random.Generator) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """One base copy of every table, drawn from ``rng``."""
    n = BASE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    npt = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npt), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npt), rng.integers(0, 8, npt))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npt)],
            "p_type": rng.choice(PART_TYPES, npt),
            "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npt) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _days("1995-01-01", no, 2404, rng),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npt, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days("1995-01-02", nl, 2498, rng),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    ts_us = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 101, nd)
    ]
    # ~5% near-duplicates: an earlier document with one token appended
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def _copy(name: str, table: pa.Table, offset: int, tag: str, rot: int) -> pa.Table:
    """One replica of ``table``: keys shifted, tokens tagged, vectors rotated."""
    for col in SHIFTED[name]:
        i = table.schema.get_field_index(col)
        shifted = pa.array(table[col].to_numpy() + offset, table.schema.field(col).type)
        table = table.set_column(i, col, shifted)
    if name == "documents" and tag:
        texts = [" ".join(tag + w for w in s.split()) for s in table["text"].to_pylist()]
        table = table.set_column(table.schema.get_field_index("text"), "text", pa.array(texts))
        i = table.schema.get_field_index("n_chars")
        table = table.set_column(i, "n_chars", pa.array([len(s) for s in texts], pa.int64()))
    if name == "embeddings" and rot:
        vecs = np.stack(table["embedding"].to_numpy(zero_copy_only=False))
        rolled = pa.array(list(np.roll(vecs, -rot, axis=1)), pa.list_(pa.float32()))
        table = table.set_column(table.schema.get_field_index("embedding"), "embedding", rolled)
    return table


def generate(out_dir: str, seed: int, factor: int) -> None:
    """Write the ten tables for (seed, factor) into ``out_dir``."""
    rng = np.random.default_rng(seed)
    base = base_tables(rng)
    slots = rng.permutation(factor)
    tags = ["" if c == 0 else f"c{c}{chr(97 + int(rng.integers(26)))}_" for c in range(factor)]
    rots = [0] + [int(r) for r in rng.choice(np.arange(1, EMBED_DIM), factor - 1, replace=False)]
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        table = base[name]
        if name in SHIFTED:
            table = pa.concat_tables(
                _copy(name, table, int(slots[c]) * KEY_STRIDE, tags[c], rots[c])
                for c in range(factor)
            )
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def ensure(cache_root: str, seed: int, factor: int) -> tuple[str, float, bool]:
    """Cached tables for (seed, factor): ``(dir, generation seconds, hit)``.

    Generation goes to a scratch directory renamed into place at the
    end, so an interrupted run never leaves a half-written entry.
    """
    out = os.path.join(cache_root, f"seed{seed}-x{factor}")
    stamp = os.path.join(out, "generated.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return out, json.load(f)["seconds"], True
    part = f"{out}.part{os.getpid()}"
    shutil.rmtree(part, ignore_errors=True)
    t0 = time.perf_counter()
    generate(part, seed, factor)
    elapsed = time.perf_counter() - t0
    with open(os.path.join(part, "generated.json"), "w") as f:
        json.dump({"seed": seed, "factor": factor, "seconds": elapsed}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(part, out)
    return out, elapsed, False
