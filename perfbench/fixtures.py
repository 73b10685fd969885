"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed. The package's own
frame generator (``sources.frames.generate_frames_and_truth``) makes
the tick feed; the analytical tables are synthesized with the same
schemas as the project's sf fixtures (see FIXTURES.md), small enough
that a run fits the benchmark's time budget:

* ``events``     ticks source of the Q1-Q8 query surface;
* ``documents``  word-soup texts with planted exact and near duplicates,
                 the input of the dedup/text operators and doc gates;
* ``embeddings`` 64-dim clustered vectors with planted near duplicates,
                 the input of the embedding gates;
* ``lineitem``   the fixed scan+agg canary table (its content never
                 depends on the seed, so the canary measures the box).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 20_000
N_USERS = 300
N_DOCS = 500
N_VECS = 500
DIM = 64
N_LINEITEM = 300_000
EPOCH_2024_US = 1_704_067_200_000_000

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window index shuffle plan commit epoch tick "
    "price volume token frame"
).split()
LANGS = ("en", "en", "en", "fr", "es", "de", "zh")


def write_events(path: str, rng: np.random.Generator) -> None:
    gaps_us = rng.integers(1, 2 * 30 * 86_400_000_000 // N_EVENTS, N_EVENTS)
    ts_us = EPOCH_2024_US + np.cumsum(gaps_us)
    kinds = np.array(["click", "purchase", "error", "signup", "view"])
    table = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts_us * 1000, type=pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": pa.array(kinds[rng.integers(0, 5, N_EVENTS)]),
            "value": pa.array(np.round(rng.exponential(60.0, N_EVENTS), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
            ),
        }
    )
    pq.write_table(table, path)


def _texts(rng: np.random.Generator) -> list[str]:
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:  # near duplicate: a few words edited
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 12)):
                words[int(rng.integers(0, len(words)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))
                ]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(12, 70))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    return texts


def write_documents(path: str, rng: np.random.Generator) -> None:
    texts = _texts(rng)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), N_DOCS)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def write_embeddings(path: str, rng: np.random.Generator) -> None:
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (N_VECS, DIM))
    for i in range(20, N_VECS, 17):  # planted near duplicates
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0.0, 0.05, DIM)
        labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pq.write_table(table, path)


def write_lineitem(path: str) -> None:
    rng = np.random.default_rng(0)
    table = pa.table(
        {
            "l_orderkey": pa.array(np.arange(N_LINEITEM, dtype=np.int64) // 4),
            "l_quantity": pa.array(rng.integers(1, 50, N_LINEITEM).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, N_LINEITEM), 2)),
        }
    )
    pq.write_table(table, path)


def write_tables(data_dir: str, seed: int) -> None:
    """The analytical tables, one parquet file each, as ``load_table``
    reads them."""
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    write_events(os.path.join(data_dir, "events.parquet"), rng)
    write_documents(os.path.join(data_dir, "documents.parquet"), rng)
    write_embeddings(os.path.join(data_dir, "embeddings.parquet"), rng)
    write_lineitem(os.path.join(data_dir, "lineitem.parquet"))
