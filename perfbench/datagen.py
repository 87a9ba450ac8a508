"""Seeded generator for the benchmark's sf0.1-shaped tables, with a manifest.

The tables follow the engine's sf0.1 test data (``dataclod_spark.session.
TABLES``): the same column names, the same parquet physical and logical
types, and the same layout of ONE row group per file.  ``schema.json`` next
to this file holds each column's types as read from that data, and
``check_manifest`` refuses files whose columns differ from it.  Among them,
``events.ts`` is INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) in the
sf0.1, sf0.01 and sf0.001 files alike, so it is written as such here:
``registry.load`` converts nanos only when ``ts`` reads as a long, so that
conversion runs on neither.  The layout matters: ``registry.load`` decides whether to
spread a scan from the file's row-group count, and pyarrow's default
row-group size would split lineitem five ways.

Value domains follow the sf0.1 profile (key ranges, 2-decimal money, date
spans, the 31-word document vocabulary, unit-norm 64-d embeddings), so the
registry's queries and their DuckDB oracles see data of the same shape and
size.  The same seed writes byte-identical files; ``check_manifest``
re-derives row counts, sizes and digests before every run.

Run ``python3 perfbench/datagen.py OUT_DIR [--seed N]`` to write a copy, or
``python3 perfbench/datagen.py --schema-from SF_DIR`` to rewrite
``schema.json`` from a directory of the engine's test data.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
MANIFEST = "manifest.json"
SCHEMA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "schema.json")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DAY_US = 86_400 * 1_000_000


def _days(rng: np.random.Generator, start: str, n_days: int, size: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days, size) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, size) / 100.0, 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(seed: int) -> dict[str, pa.Table]:
    """Every table as an Arrow table; the same seed gives the same tables."""
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n["customer"])],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    keys = np.arange(n["part"])
    adj = np.array(_ADJ)[rng.integers(0, len(_ADJ), n["part"])]
    noun = np.array(_NOUN)[rng.integers(0, len(_NOUN), n["part"])]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n["orders"]),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n["orders"])],
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
            "l_shipdate": _days(rng, "1995-01-02", 2499, m),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * _DAY_US, e))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, e)],
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    lengths = rng.integers(10, 101, d)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # a few exact duplicates, as in the sf0.1 test data (4,992 distinct of 5,000)
    for i, j in enumerate(rng.choice(d, size=8, replace=False)):
        texts[j] = texts[(j + 1 + i) % d]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(d), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, 5, d)],
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0.0, 0.008, (10, 64))
    vec = rng.normal(0.0, 1.0, (v, 64)) / 8.0 + centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(v), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def column_types(path: str) -> dict[str, str]:
    """Column -> parquet physical and logical type of one file."""
    schema = pq.ParquetFile(path).schema
    return {
        c.path: f"{c.physical_type} {c.logical_type}"
        for c in (schema.column(i) for i in range(len(schema)))
    }


def write_schema(sf_dir: str) -> None:
    schema = {name: column_types(os.path.join(sf_dir, f"{name}.parquet")) for name in ROWS}
    with open(SCHEMA, "w") as f:
        json.dump(schema, f, indent=1, sort_keys=True)
        f.write("\n")


def _describe(out_dir: str, seed: int) -> dict:
    tables = {}
    for name in ROWS:
        path = os.path.join(out_dir, f"{name}.parquet")
        meta = pq.ParquetFile(path).metadata
        tables[name] = {
            "rows": meta.num_rows,
            "row_groups": meta.num_row_groups,
            "bytes": os.path.getsize(path),
            "sha256": _digest(path),
        }
    return {"seed": seed, "tables": tables}


def generate(out_dir: str, seed: int) -> dict:
    """Write every table (one row group each) and the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )
    manifest = _describe(out_dir, seed)
    with open(os.path.join(out_dir, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def check_manifest(out_dir: str) -> dict:
    """Raise unless the files on disk match their manifest exactly and
    every column has the type ``schema.json`` gives it."""
    with open(os.path.join(out_dir, MANIFEST)) as f:
        want = json.load(f)
    with open(SCHEMA) as f:
        schema = json.load(f)
    got = _describe(out_dir, want["seed"])
    for name, meta in want["tables"].items():
        if got["tables"][name] != meta or meta["rows"] != ROWS[name] or meta["row_groups"] != 1:
            raise RuntimeError(f"data manifest mismatch for {name}: {got['tables'][name]}")
        types = column_types(os.path.join(out_dir, f"{name}.parquet"))
        if types != schema[name]:
            raise RuntimeError(f"column types of {name} differ from schema.json: {types}")
    return want


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir", nargs="?")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--schema-from", metavar="SF_DIR",
                    help="rewrite schema.json from the engine's test data in SF_DIR")
    a = ap.parse_args()
    if a.schema_from:
        write_schema(a.schema_from)
    elif a.out_dir:
        print(json.dumps(generate(a.out_dir, a.seed)["tables"]))
    else:
        ap.error("give OUT_DIR or --schema-from")
