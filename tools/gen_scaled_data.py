"""Generate a scaled `documents` table for optimization measurement.

The registry's queries read only the testdata `documents` table. This
writes a locally reproducible stand-in at any scale factor, with the
same schema, the same row count per scale factor, and statistically
matched distributions (vocabulary, doc lengths, dup-doc rate, inferred
from the sf0.1 testdata). Correctness is still gated on the real
testdata via the DuckDB oracles; this data is ONLY for before/after
timing at larger scale. perfbench/inputs.py builds its curation tables
with gen_documents.

Usage: python tools/gen_scaled_data.py --sf 1.0 --out sfgen/sf1.0
"""

from __future__ import annotations

import argparse
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument("--out", default="/root/sfgen/sf1.0")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    rng = np.random.default_rng(20260822)

    pq.write_table(gen_documents(rng, int(50000 * args.sf)),
                   os.path.join(args.out, "documents.parquet"))
    with open(os.path.join(args.out, "_DONE"), "w") as f:
        f.write("generated by tools/gen_scaled_data.py\n")
    print("wrote", args.out)


if __name__ == "__main__":
    main()
