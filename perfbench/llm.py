"""``llm_pipeline``: batch operator traffic that bypasses every admin
layer.

A fixed set of registered queries, one per operator family, is called
through the registry as ``fn(spark, sf_dir).collect()`` in seeded
rounds over the benchmark's own sf0.1-shaped inputs (5000 documents,
2000 vectors). The first call of each query in set-up builds its
session indexes; its result hash is recorded there and checked once
against the query's registered DuckDB oracle, and every timed call must
reproduce it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import threading
import time
from decimal import Decimal

import numpy as np

import gen

# family -> registered query
QUERIES = {
    # checkpoints its candidate frame while the DataFrame is built
    "dedup": "minhash_near_dup",
    "similarity": "ann_pq_topk",
    "textual": "text_quality",
    "retrieval": "bm25_topk",
    "curation": "dataset_card",
}
# query calls per second of timed phase the schedule is sized for
RATE = 1.25


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def result_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash over rows with columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in norm:
        h.update(line.encode())
    return h.hexdigest()


def oracle_hash(sql: str, sf_dir: str) -> str:
    import duckdb

    con = duckdb.connect(config={"threads": 2})
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        return result_hash([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()


class LlmPipeline:
    name = "llm_pipeline"
    inputs = ("documents", "embeddings")
    RATE = RATE

    def __init__(self, spark, work: str, seed: int, scale: str, tracer=None):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 3])
        self.index_build_s = 0.0

    def build(self) -> None:
        """Inputs, and every query called once on them: the first call
        builds the session indexes for that input directory and leaves
        later calls at their steady cost."""
        from lakehouse_admin_spark import registry

        registry.load_all_operators()
        self.specs = {f: registry.QUERIES[q] for f, q in QUERIES.items()}
        self.sf_dir = gen.write_inputs(
            os.path.join(self.work, "inputs"), self.seed, self.scale, self.inputs)
        t = time.perf_counter()
        self.hashes = {}
        for fam, spec in self.specs.items():
            df = spec.fn(self.spark, self.sf_dir)
            self.hashes[fam] = result_hash(df.columns, df.collect())
        self.index_build_s = time.perf_counter() - t

    def warm(self, ops) -> None:
        """One untimed round, because the calls right after the index
        builds still carry JIT warm-up. Meanwhile a thread checks the
        recorded hashes against the DuckDB oracles."""

        def check():
            self.oracle_errors = [
                f"{fam}: result differs from the DuckDB oracle"
                for fam, spec in self.specs.items()
                if spec.oracle and oracle_hash(spec.oracle, self.sf_dir) != self.hashes[fam]
            ]

        self.oracle_errors = ["the oracle check did not finish"]
        oracle = threading.Thread(target=check)
        oracle.start()
        for fam in self.specs:
            ops.run(fam, "warm", lambda fam=fam: self._call(fam),
                    lambda h, fam=fam: h == self.hashes[fam])
        oracle.join()

    def close(self) -> None:
        pass

    def _call(self, fam: str):
        tr = self.tracer
        spec = self.specs[fam]
        if tr is None or not tr.active:
            df = spec.fn(self.spark, self.sf_dir)
            return result_hash(df.columns, df.collect())
        jobs0 = tr.jobs_now()
        with tr.span(f"operators.{fam}.construct"):
            df = spec.fn(self.spark, self.sf_dir)
        tr.counts["operators.hidden_jobs"] += len(tr.jobs_now() - jobs0)
        with tr.span(f"operators.{fam}.collect"):
            rows = df.collect()
        return result_hash(df.columns, rows)

    def schedule(self, n_ops: int) -> list[str]:
        """Whole rounds of every family, each round in seeded order."""
        seq = []
        for _ in range(max(1, round(n_ops / len(QUERIES)))):
            fams = list(QUERIES)
            self.rng.shuffle(fams)
            seq += fams
        return seq

    def run(self, ops, seq: list[str]) -> None:
        for fam in seq:
            ops.run(fam, "read", lambda fam=fam: self._call(fam),
                    lambda h, fam=fam: h == self.hashes[fam])

    def final_check(self) -> list[str]:
        return self.oracle_errors

    def layer_metrics(self, tr, ops) -> dict:
        from common import p50

        d = tr.durations_ms()
        out = {
            f"operators.{fam}.{p}_ms_p50": p50(d.get(f"operators.{fam}.{p}", []))
            for fam in QUERIES for p in ("construct", "collect")
        }
        out["operators.index_build_s"] = self.index_build_s
        return out
