"""Seeded input generator: the benchmark's own copies of the
``documents``, ``embeddings`` and ``events`` tables.

The shapes are fitted to the sf0.1 test tables, as measured by
``shapes.py`` (the figures are in ``STEADINESS.md``):

- documents: 10 to 99 words drawn uniformly from a 30-word vocabulary
  that includes the stopwords ``the`` and ``a``; 5% of documents are
  another document with the token ``dup`` appended, so they are its
  near-duplicates and ``dup`` is the one rare term; ``lang`` is 41%
  ``en``; ``source`` cycles through 20 values.
- embeddings: 64-dim unit vectors in uniformly random directions, with
  one of 10 labels drawn independently of the vector.
- events: timestamps without a time zone, uniform over the 30 days from
  2024-01-01 and sorted; exponential ``value`` with mean 50.

The seed changes the values, never the sizes, so every seed asks for
the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DUP_TOKEN = "dup"
WORDS = (10, 99)
NEAR_DUP_SHARE = 0.05
LANGS = ["en", "de", "fr", "zh", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_USERS = 1500
VALUE_MEAN = 50.0
EVENT_DAYS = 30
EPOCH = dt.datetime(2024, 1, 1)

SIZES = {
    # scale: (documents, embeddings, events)
    "sf0.1": (5000, 2000, 100_000),
    "sf0.001": (500, 500, 1000),
}


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    lens = rng.integers(WORDS[0], WORDS[1] + 1, n)
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in lens]
    dups = rng.choice(n, size=round(n * NEAR_DUP_SHARE), replace=False)
    is_dup = np.zeros(n, bool)
    is_dup[dups] = True
    bases = np.flatnonzero(~is_dup)
    for i in dups:
        texts[i] = f"{texts[int(rng.choice(bases))]} {DUP_TOKEN}"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(list(rng.choice(LANGS, size=n, p=LANG_P)), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    vecs = rng.standard_normal((n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, n).astype(np.int32), pa.int32()),
        }
    )


def events(n: int, rng: np.random.Generator) -> pa.Table:
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64(EPOCH, "us") + offsets.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_inputs(out_dir: str, seed: int, scale: str, tables: tuple[str, ...]) -> str:
    """Write the named tables as ``<out_dir>/<name>.parquet``."""
    n_docs, n_vecs, n_events = SIZES[scale]
    os.makedirs(out_dir, exist_ok=True)
    for name, fn, n in (
        ("documents", documents, n_docs),
        ("embeddings", embeddings, n_vecs),
        ("events", events, n_events),
    ):
        if name not in tables:
            continue
        # one generator per table, so adding a table never shifts another
        rng = np.random.default_rng([seed, len(name)])
        pq.write_table(fn(n, rng), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
