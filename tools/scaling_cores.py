"""Per-query core-scaling recording (r14, VERDICT #6): the 5 slowest
headline rows at a stress tier, to be invoked once per
(SPARK_GRAFT_CPUS, tier) combination so each recording is a fresh JVM
at the requested core count (`master local[$SPARK_GRAFT_CPUS]` comes
from the session factory, exactly like bench.py).

Serving rows take the FIXED query workload (nq == 100 via a
QUERY_STRIDE patch, the stress_bench rule — the graded stride form
would make every serving query measure quadratic). The sentinel
(pricing_summary) runs against the regular sf0.1 fixture in the same
session so host drift is visible in every line.

Usage: SPARK_GRAFT_CPUS=8 python tools/scaling_cores.py s25
Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_stress import TIERS, build_tier  # noqa: E402

ROWS = [
    "ann_binary_rerank",
    "embedding_lsh_near_dup",
    "hnsw_search",
    "ann_binary_hamming_topk",
    "ann_ivf_pq_rerank",
]
SERVING = {  # fixed-workload rows (stride patched to nq == 100)
    "ann_binary_rerank",
    "hnsw_search",
    "ann_binary_hamming_topk",
    "ann_ivf_pq_rerank",
}
SENTINEL_SF = "/root/testdata/sf0.1"


def median3(fn) -> tuple[float, list[float]]:
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        walls.append(round(time.perf_counter() - t0, 3))
    walls.sort()
    return walls[1], [walls[0], walls[-1]]


def main() -> None:
    tier = sys.argv[1]
    nd, nv = TIERS[tier]
    import lakehouse_admin_spark.operators.similarity as sim
    from lakehouse_admin_spark import registry
    from lakehouse_admin_spark.session import DEFAULT_CPUS, get_spark

    registry.load_all_operators()
    spark = get_spark(app_name=f"scaling-cores-{tier}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    sf_dir = build_tier(os.environ.get("STRESS_ROOT", "/tmp/lakehouse_stress"),
                        tier, nd, nv)
    q = registry.QUERIES
    q["pricing_summary"].fn(spark, SENTINEL_SF).collect()  # warm
    sent, sent_spread = median3(
        lambda: q["pricing_summary"].fn(spark, SENTINEL_SF).collect()
    )
    base_stride = sim.QUERY_STRIDE
    rows: dict[str, dict] = {}
    builds: dict[str, float] = {}
    for name in ROWS:
        sim.QUERY_STRIDE = max(1, nv // 100) if name in SERVING else base_stride
        try:
            spark.sparkContext.setJobDescription(f"scaling {tier}: {name} build")
            t0 = time.perf_counter()
            q[name].fn(spark, sf_dir).collect()  # build/warm
            builds[name] = round(time.perf_counter() - t0, 3)
            spark.sparkContext.setJobDescription(f"scaling {tier}: {name} serve")
            med, spread = median3(lambda: q[name].fn(spark, sf_dir).collect())
            rows[name] = {"median": med, "spread": spread}
        except Exception as exc:  # noqa: BLE001 — keep the artifact
            rows[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        finally:
            sim.QUERY_STRIDE = base_stride
    print(json.dumps({
        "metric": "scaling_cores",
        "tier": tier,
        "docs": nd,
        "vectors": nv,
        "cpus": DEFAULT_CPUS,
        "sentinel_sf01_median": sent,
        "sentinel_spread": sent_spread,
        "serving_nq_fixed": 100,
        "build_first_touch": builds,
        "rows": rows,
    }))


if __name__ == "__main__":
    main()
