"""Generate a driver-SHAPED scaled dataset for optimization measurement.

The round driver generates its own sf1.0 (and larger) test data; that
directory is not present between rounds, so the optimization work needs
a locally reproducible stand-in with the same schemas, the same row
counts per scale factor, and statistically matched distributions
(inferred from /root/testdata/sf0.1 — vocabulary, doc lengths, dup-doc
rate, unit-norm embeddings, TPC-H-ish columns). Correctness is still
gated on the real driver data at sf0.01 via the DuckDB oracles; this
data is ONLY for before/after timing at the driver's measured scale
(sf 1.0).

Usage: python tools/gen_scaled_data.py --sf 1.0 --out /root/sfgen/sf1.0
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.15, 0.149, 0.148, 0.141]


def gen_documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(rng.choice(VOCAB, size=ln)) for ln in lens]
    # ~5% near-duplicates: doc j becomes a copy of a random earlier doc
    # with ' dup' appended (matches the observed sf0.1 structure: 250
    # 'dup'-suffixed docs out of 5000, each sharing a full prefix with
    # one other doc)
    n_dup = n // 20
    dup_idx = rng.choice(n, size=n_dup, replace=False)
    for j in dup_idx:
        src = int(rng.integers(0, n))
        texts[j] = texts[src] + " dup"
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    sources = [f"src{i % 20}" for i in range(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def gen_events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00.000000")
    secs = np.sort(rng.uniform(0, 30 * 86400, size=n))
    ts = t0 + (secs * 1e6).astype("timedelta64[us]")
    types = rng.choice(["signup", "purchase", "view", "click", "error"], size=n)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array(types, pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 200, size=n), 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, size=n)], pa.string()),
    })


def tile_tpch(src_dir: str, name: str, reps: int, key_scale: dict[str, int],
              out_dir: str) -> None:
    """Tile an sf0.1 TPC-H table `reps` times; key columns get
    k_new = k_old * reps + rep so uniqueness and join fan-out per key
    are preserved at the larger scale."""
    t = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
    parts = []
    for rep in range(reps):
        cols = {}
        for field in t.schema:
            col = t[field.name]
            if field.name in key_scale:
                cols[field.name] = pa.compute.add(
                    pa.compute.multiply(col, reps), rep)
            else:
                cols[field.name] = col
        parts.append(pa.table(cols))
    pq.write_table(pa.concat_tables(parts),
                   os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument("--out", default="/root/sfgen/sf1.0")
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    scale = args.sf / 0.1  # relative to the sf0.1 source
    reps = int(round(scale))
    rng = np.random.default_rng(20260822)

    pq.write_table(gen_documents(rng, int(50000 * args.sf)),
                   os.path.join(args.out, "documents.parquet"))
    pq.write_table(gen_embeddings(rng, int(20000 * args.sf)),
                   os.path.join(args.out, "embeddings.parquet"))
    pq.write_table(gen_events(rng, int(1000000 * args.sf),
                              n_users=int(15000 * args.sf)),
                   os.path.join(args.out, "events.parquet"))

    keyed = {
        "lineitem": {"l_orderkey": 1, "l_partkey": 1, "l_suppkey": 1},
        "orders": {"o_orderkey": 1, "o_custkey": 1},
        "customer": {"c_custkey": 1, "c_nationkey": 0},
        "part": {"p_partkey": 1},
        "supplier": {"s_suppkey": 1, "s_nationkey": 0},
    }
    for name, keys in keyed.items():
        scaled_keys = {k for k, do in keys.items() if do}
        tile_tpch(args.src, name, reps, {k: reps for k in scaled_keys},
                  args.out)
    for name in ("nation", "region"):
        pq.write_table(pq.read_table(os.path.join(args.src, f"{name}.parquet")),
                       os.path.join(args.out, f"{name}.parquet"))
    with open(os.path.join(args.out, "_DONE"), "w") as f:
        f.write("generated by tools/gen_scaled_data.py\n")
    print("wrote", args.out)


if __name__ == "__main__":
    main()
