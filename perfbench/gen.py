"""Seeded benchmark input, derived from the fixture tables.

``fixtures/`` holds the repository's scale-factor-0.01 tables. A
workload's input is a seeded perturbation of them, so different seeds
give different input and the same seed identical input:

- orders, events and documents keep a seeded sample of their rows
  (lineitem follows its orders);
- prices and event values get a seeded relative jitter, rounded to
  cents as in the fixtures;
- a seeded share of each document's words is replaced by other words
  of the corpus;
- embeddings get seeded Gaussian noise.

Keys, dimension tables and schemas are unchanged, so every join the
fixtures support still resolves.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
KEEP = 0.97  # share of sampled rows kept
JITTER = 0.01  # relative std of price and value jitter
WORD_SUB = 0.2  # share of document words replaced
EMB_NOISE = 0.01  # std of embedding noise (values are ~N(0, 0.1))
SAMPLED = ("orders", "events", "documents")
JITTERED = {"orders": "o_totalprice", "lineitem": "l_extendedprice", "events": "value"}


def _perturb(name: str, df, rng, kept_orders):
    if name in JITTERED:
        col = JITTERED[name]
        df[col] = np.round(df[col] * (1.0 + JITTER * rng.standard_normal(len(df))), 2)
    if name == "documents":
        vocab = np.array(sorted({w for t in df["text"] for w in t.split()}))
        texts = []
        for t in df["text"]:
            words = np.array(t.split())
            swap = rng.random(len(words)) < WORD_SUB
            words[swap] = rng.choice(vocab, int(swap.sum()))
            texts.append(" ".join(words))
        df["text"] = texts
        df["n_chars"] = [len(t) for t in texts]
    if name == "embeddings":
        df["embedding"] = [
            (v + EMB_NOISE * rng.standard_normal(len(v))).astype(np.float32)
            for v in df["embedding"]
        ]
    if name in SAMPLED:
        df = df[rng.random(len(df)) < KEEP]
    if name == "lineitem":
        df = df[np.isin(df["l_orderkey"], kept_orders)]
    return df


def tables(seed: int) -> dict[str, pa.Table]:
    """The ten input tables for ``seed``."""
    rng = np.random.default_rng(seed)
    out = {}
    kept_orders = None
    # orders before lineitem, so lineitem can follow the orders sample
    for name in TABLES:
        raw = pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))
        df = _perturb(name, raw.to_pandas(), rng, kept_orders)
        if name == "orders":
            kept_orders = df["o_orderkey"].to_numpy()
        out[name] = pa.Table.from_pandas(df, schema=raw.schema, preserve_index=False)
    return out


def write(out_dir: str, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
