"""Session-index registry laws: released blocks, base→derived cascades,
single-flight builds, and the one-module key guard."""

from __future__ import annotations

import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from lakehouse_admin_spark import index_registry as ir
from tests.conftest import SF_SMOKE

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "lakehouse_admin_spark")


def _has(name: str, variant=None) -> bool:
    norm = os.path.abspath(SF_SMOKE.rstrip("/"))
    return any(
        e["tier"] == norm and e["name"] == name and (variant is None or e["variant"] == variant)
        for e in ir.entries()
    )


def test_invalidation_frees_checkpointed_blocks(spark):
    """Invalidating a tier unpersists its indexes' blocks at once: every
    RDD the index builds persisted leaves the executor's persistent-RDD
    set, instead of waiting for the JVM GC. (Ids, not the count: the
    ContextCleaner may free earlier tests' garbage meanwhile.)"""
    import lakehouse_admin_spark.operators.curation as cur
    import lakehouse_admin_spark.operators.dedup as dd
    import lakehouse_admin_spark.operators.multimodal as mm
    import lakehouse_admin_spark.operators.textual as tex

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    ir.invalidate(SF_SMOKE)
    before = persistent_ids()
    dd._session_band_buckets(spark, SF_SMOKE)  # + the posting list
    dd._cdc_chunk_hashes(spark, SF_SMOKE)
    tex._session_lang_profile(spark, SF_SMOKE)
    tex._winnow_capped_posts(spark, SF_SMOKE)  # + the fingerprints
    mm._session_features(spark, SF_SMOKE)
    cur._dsir_gram_counts(spark, SF_SMOKE)
    built = persistent_ids() - before
    assert len(built) == 8
    assert ir.invalidate(SF_SMOKE) == 8
    assert not built & persistent_ids()


def test_invalidating_a_base_drops_its_derived_indexes(spark):
    """Edges are recorded by the builds themselves: the OPQ rotation is
    trained from the (mu, cov) model and the 'opq' PQ codes from the
    rotation; the 'ivf' PQ codes carry the IVF cell assignments."""
    import lakehouse_admin_spark.operators.similarity as sim

    stride = sim.QUERY_STRIDE
    ir.invalidate(SF_SMOKE, "cov")
    ir.invalidate(SF_SMOKE, "ivf")
    sim.opq_pq_index(spark, SF_SMOKE)
    assert _has("cov") and _has("opq") and _has("pq", ("opq", stride))
    assert ir.invalidate(SF_SMOKE, "cov") == 3
    assert not (_has("cov") or _has("opq") or _has("pq", ("opq", stride)))

    sim.pq_index(spark, SF_SMOKE, with_cells=True)
    sim.pq_index(spark, SF_SMOKE)
    assert _has("ivf") and _has("pq", ("ivf", stride))
    assert ir.invalidate(SF_SMOKE, "ivf") == 2
    assert not _has("pq", ("ivf", stride))
    assert _has("pq", ("plain", stride)), "plain codes do not derive from the cells"


def test_same_key_builds_once_under_concurrency(spark):
    tier = "/registry-test/single-flight"
    ir.invalidate(tier)
    calls = []
    release = threading.Event()

    def build():
        calls.append(1)
        release.wait(10)
        return object()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(ir.get, spark, tier, "probe", build) for _ in range(8)]
            time.sleep(0.3)  # let every caller reach the registry
            release.set()
            values = [f.result(timeout=30) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1
    assert all(v is values[0] for v in values)
    assert ir.invalidate(tier) == 1


def test_nested_builds_on_many_threads_do_not_deadlock(spark):
    """Eight threads each build their own key, and every build fetches
    one shared inner key mid-build: the inner index is built once, every
    outer build records it as its base, and nothing deadlocks."""
    tier = "/registry-test/nested"
    ir.invalidate(tier)
    inner_calls = []

    def inner():
        inner_calls.append(1)
        time.sleep(0.2)
        return "inner"

    def outer(i):
        return ir.get(
            spark, tier, "outer", lambda: (ir.get(spark, tier, "inner", inner), i), variant=i
        )

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(outer, range(8), timeout=30))
    assert results == [("inner", i) for i in range(8)]
    assert len(inner_calls) == 1
    assert ir.invalidate(tier, "inner") == 9  # the base + every derived


def test_invalidation_during_a_build_is_not_lost(spark):
    """A build still running when its base is invalidated serves its
    caller but is not cached: it may have read the dropped base."""
    tier = "/registry-test/mid-build"
    ir.invalidate(tier)
    started, finish = threading.Event(), threading.Event()

    def outer():
        base = ir.get(spark, tier, "inner", object)
        started.set()
        assert finish.wait(10)
        return base

    with ThreadPoolExecutor(max_workers=1) as pool:
        future = pool.submit(ir.get, spark, tier, "outer", outer)
        assert started.wait(10)
        assert ir.invalidate(tier, "inner") == 1
        finish.set()
        assert future.result(timeout=30) is not None
    assert [e["name"] for e in ir.entries() if e["tier"] == tier] == []


def test_failed_build_is_not_cached(spark):
    tier = "/registry-test/failing"

    def boom():
        raise RuntimeError("build failed")

    for _ in range(2):
        with pytest.raises(RuntimeError, match="build failed"):
            ir.get(spark, tier, "probe", boom)
    assert ir.get(spark, tier, "probe", lambda: 7) == 7
    assert ir.invalidate(tier) == 1


def test_application_id_only_in_the_registry():
    """The session key is built in one place: no other package module
    reads the SparkContext's applicationId."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and f != "index_registry.py":
                with open(path, encoding="utf-8") as fh:
                    if "sparkContext.applicationId" in fh.read():
                        offenders.append(os.path.relpath(path, PKG))
    assert offenders == []


def _tier(tmp_path, parent: str, target: str) -> str:
    """A tier path ``<tmp>/<parent>/sf`` linked to ``target``: tiers
    made this way share the basename ``sf``."""
    d = tmp_path / parent
    d.mkdir()
    os.symlink(target, d / "sf")
    return str(d / "sf")


def _rows(df) -> list[tuple]:
    return sorted(
        tuple(round(v, 2) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def test_persisted_bases_are_keyed_by_the_full_tier_path(spark, tmp_path):
    """Two tiers sharing a basename each get their own persisted LSH
    base (incremental_near_dup) and their own bucketed fact copies
    (revenue_by_nation): the second tier answers exactly like the same
    data under a path of its own."""
    from lakehouse_admin_spark.operators import dedup, relational
    from tests.conftest import SF_CORRECTNESS

    a = _tier(tmp_path, "a", SF_SMOKE)
    b = _tier(tmp_path, "b", SF_CORRECTNESS)
    try:
        for q in (dedup.incremental_near_dup, relational.revenue_by_nation):
            q(spark, a).collect()
            assert _rows(q(spark, b)) == _rows(q(spark, SF_CORRECTNESS)), q.__name__
    finally:
        ir.invalidate(a)
        ir.invalidate(b)


def test_invalidation_removes_persisted_bases(spark, tmp_path):
    """The persisted LSH and IVF bases are registry entries: invalidating
    their tier drops them from entries() and removes their directories,
    and the next call rebuilds."""
    from urllib.parse import urlparse

    from lakehouse_admin_spark.operators import dedup, similarity

    tier = _tier(tmp_path, "inv", SF_SMOKE)
    norm = os.path.abspath(tier)
    lsh_file = urlparse(dedup._persisted_bucket_index(spark, tier).inputFiles()[0]).path
    cells, _ = similarity._persisted_ivf_index(spark, tier)
    dirs = [os.path.dirname(os.path.dirname(lsh_file)), os.path.dirname(cells)]
    assert all(os.path.isdir(d) for d in dirs)
    try:
        assert {"lsh_base", "ivf_base"} <= {e["name"] for e in ir.entries() if e["tier"] == norm}
    finally:
        ir.invalidate(tier)
    assert not [e for e in ir.entries() if e["tier"] == norm]
    assert not [d for d in dirs if os.path.exists(d)]
    rebuilt, _ = similarity._persisted_ivf_index(spark, tier)
    assert os.path.isdir(os.path.dirname(rebuilt))
    ir.invalidate(tier)
