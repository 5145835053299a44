"""Measure the shapes of a ``documents``/``embeddings``/``events``
directory, the ones that set what the benchmark's operators cost.

    python3 perfbench/shapes.py DIR              # any sf directory
    python3 perfbench/shapes.py --gen sf0.1 --seed 1

``--gen`` measures ``gen.py``'s output for a seed instead, so the two
can be set side by side.
"""

from __future__ import annotations

import argparse
import collections
import itertools
import json
import os
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq


def _shingles(words: list[str]) -> set[tuple[str, ...]]:
    return {tuple(words[i:i + 3]) for i in range(len(words) - 2)}


def near_dup_share(texts: list[str], threshold: float = 0.5) -> float:
    """Share of documents with another document at 3-word-shingle
    Jaccard >= ``threshold`` (the ``minhash_near_dup`` verification)."""
    sets = [_shingles(t.split()) for t in texts]
    postings = collections.defaultdict(list)
    for i, s in enumerate(sets):
        for g in s:
            postings[g].append(i)
    pairs = collections.Counter()
    for ids in postings.values():
        if len(ids) < 50:  # common shingles cannot make a pair on their own
            pairs.update(itertools.combinations(ids, 2))
    near = set()
    for a, b in pairs:
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= threshold:
            near |= {a, b}
    return len(near) / len(texts)


def documents(path: str) -> dict:
    t = pq.read_table(path).to_pydict()
    texts = t["text"]
    words = np.array([len(x.split()) for x in texts])
    vocab = collections.Counter(w for x in texts for w in x.split())
    n = len(texts)
    return {
        "rows": n,
        "words_min": int(words.min()), "words_mean": round(float(words.mean()), 1),
        "words_max": int(words.max()),
        "vocab": len(vocab),
        "rare_terms": sorted(w for w, c in vocab.items() if c < n / 10),
        "stopword_share": round(sum(vocab[w] for w in ("the", "a")) / words.sum(), 4),
        "near_dup_share": round(near_dup_share(texts), 4),
        "en_share": round(t["lang"].count("en") / n, 3),
        "sources": len(set(t["source"])),
    }


def embeddings(path: str) -> dict:
    t = pq.read_table(path).to_pydict()
    v = np.array(t["embedding"], dtype=np.float64)
    labels = np.array(t["label"])
    ids = sorted(set(labels))
    centroids = np.array([v[labels == x].mean(0) for x in ids])
    resid = v - centroids[np.searchsorted(ids, labels)]
    sims = v @ v.T
    np.fill_diagonal(sims, -2)
    return {
        "rows": len(v), "dim": v.shape[1], "labels": len(ids),
        "norm_mean": round(float(np.linalg.norm(v, axis=1).mean()), 3),
        "centroid_std": round(float(centroids.std()), 4),
        "noise_std": round(float(resid.std()), 4),
        "nn_same_label": round(float((labels[sims.argmax(1)] == labels).mean()), 3),
        "nn_cos_mean": round(float(sims.max(1).mean()), 3),
    }


def events(path: str) -> dict:
    tbl = pq.read_table(path)
    ts = tbl.column("ts")
    t = tbl.to_pydict()
    days = collections.Counter(x.date() for x in t["ts"])
    value = np.array(t["value"])
    micros = np.array(ts.cast("int64"))
    return {
        "rows": tbl.num_rows, "ts_type": str(ts.type),
        "first_day": str(min(days)), "days": len(days),
        "rows_per_day_min": min(days.values()), "rows_per_day_max": max(days.values()),
        "ts_sorted": bool(np.all(np.diff(micros) >= 0)),
        "users": len(set(t["user_id"])), "event_types": len(set(t["event_type"])),
        "value_mean": round(float(value.mean()), 2),
        "value_median": round(float(np.median(value)), 2),
        "value_max": round(float(value.max()), 2),
    }


def measure(sf_dir: str) -> dict:
    out = {}
    for name, fn in (("documents", documents), ("embeddings", embeddings), ("events", events)):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = fn(path)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir", nargs="?")
    ap.add_argument("--gen", help="measure gen.py's output at this scale instead")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    if args.gen:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import gen

        with tempfile.TemporaryDirectory(dir=".") as tmp:
            gen.write_inputs(tmp, args.seed, args.gen, ("documents", "embeddings", "events"))
            shapes = measure(tmp)
    elif args.dir:
        shapes = measure(args.dir)
    else:
        ap.error("give a directory or --gen")
    print(json.dumps(shapes, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
