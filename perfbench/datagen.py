"""Seeded generator for the engine's fixture tables.

Writes the ten tables ``etl_geotab_spark.io.TABLES`` names as one
parquet file each, with the schemas and value domains of the engine's
synthetic star schema (TPC-H-like dimensions and facts, an ``events``
stream, a ``documents`` corpus and unit-norm ``embeddings``). Sizes
follow the scale factor the same way the fixtures do: at ``sf=0.01``
lineitem has 60,000 rows, documents and embeddings 500 each.

The same ``(seed, sf)`` always writes the same bytes' worth of values,
so a benchmark run's inputs are a pure function of its seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "small", "hot", "cold", "shiny", "matte", "heavy", "light")
PART_NOUN = ("ring", "bolt", "nut", "gear", "valve", "pipe", "plate", "screw")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.13, 0.15)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(50_000 * sf),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts in [lo, hi], exact in cents."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(start: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + offsets.astype("timedelta64[D]")


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def _document(rng: np.random.Generator) -> str:
    n = int(rng.integers(10, 100))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; one RNG stream per table so a
    table's contents do not depend on the generation order."""
    n = sizes(sf)
    rngs = {
        name: np.random.default_rng([seed, i]) for i, name in enumerate(sorted(n))
    }
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rngs["customer"]
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, k)],
    })

    r = rngs["supplier"]
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })

    r = rngs["part"]
    k = n["part"]
    keys = np.arange(k)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
        ],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, k)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, k)],
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })

    r = rngs["orders"]
    k = n["orders"]
    order_day = r.integers(0, 2404, k)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500000.0, k),
        "o_orderdate": _ts(_days("1995-01-01", order_day)),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, k)],
    })

    r = rngs["lineitem"]
    k = n["lineitem"]
    okey = r.integers(0, n["orders"], k)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, k)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, k)],
        "l_shipdate": _ts(_days("1995-01-01", order_day[okey] + r.integers(1, 122, k))),
    })

    r = rngs["events"]
    k = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, k))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": _ts(np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(r.integers(0, max(1, k // 66), k), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, k)],
        "value": np.minimum(np.round(r.exponential(50.0, k), 2), 560.21),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, k)],
    })

    r = rngs["documents"]
    k = n["documents"]
    texts = [_document(r) for _ in range(k)]
    # a few exact and near duplicates, as a crawled corpus has
    for i in r.choice(k, size=max(1, k // 50), replace=False):
        src = int(r.integers(0, k))
        texts[i] = texts[src] if r.random() < 0.5 else texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, size=k, p=LANG_P)],
        "source": [f"src{i}" for i in r.integers(0, 20, k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = rngs["embeddings"]
    k = n["embeddings"]
    vecs = r.standard_normal((k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, k), pa.int32()),
    })
    return out


def write(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns the row
    count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    import sys
    import time

    t0 = time.perf_counter()
    print(write(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3]))
    print(f"{time.perf_counter() - t0:.2f} s", file=sys.stderr)
