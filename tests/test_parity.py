"""Every registered parity query must match its DuckDB oracle at sf0.001.

This is the local mirror of the driver's t2 correctness gate.
"""

import pytest

from tests.oracle import compare
from tiflow_spark.plans.parity import REGISTRY


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_parity(spark, sf_dir, name):
    fn, sql = REGISTRY[name]
    df = fn(spark, sf_dir)
    assert df.count() > 0, f"{name}: empty result"
    if sql is None:
        return
    ok, msg = compare(df, sql, sf_dir)
    assert ok, f"{name}: {msg}"


@pytest.mark.skipif(
    not __import__("os").environ.get("TIFLOW_SPARK_FULL_SWEEP"),
    reason="set TIFLOW_SPARK_FULL_SWEEP=1 for the sf0.1 scale sweep "
    "(~25 min; full sweep green 2026-08-14)",
)
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_parity_sf01_sweep(spark, name):
    """Scale-robustness sweep: the same oracle equality at sf0.1 — 10x the
    driver's correctness scale. Catches row-count-dependent logic the
    small-sf gates can't."""
    sf = "/root/testdata/sf0.1"
    fn, sql = REGISTRY[name]
    df = fn(spark, sf)
    assert df.count() > 0, f"{name}: empty result"
    if sql is None:
        return
    ok, msg = compare(df, sql, sf)
    assert ok, f"{name}: {msg}"


def test_stream_apply_stages_chunks_in_arrival_order(spark, sf_dir, tmp_path):
    """stream_apply's source files carry strictly increasing mtimes in
    2, 0, 1 chunk order, so the file source replays the same out-of-order
    micro-batches on every run."""
    import os

    from tiflow_spark.plans.parity import _env, _stage_out_of_order

    src = _stage_out_of_order(_env(spark, sf_dir), str(tmp_path))
    files = sorted(
        (os.stat(os.path.join(src, f)).st_mtime, f) for f in os.listdir(src)
    )
    mtimes = [m for m, _ in files]
    assert mtimes == sorted(set(mtimes))
    chunks = [f.split("-", 1)[0] for _, f in files]
    order = ["c2", "c0", "c1"]
    assert set(chunks) == set(order)
    assert chunks == sorted(chunks, key=order.index)


def test_shardddl_optimistic_merge_leaves_no_cache_entry(spark, sf_dir):
    """The query returns a lazy frame, so nothing inside it may persist:
    there is no point at which unpersisting would be safe."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    REGISTRY["shardddl_optimistic_merge"][0](spark, sf_dir).collect()
    assert cache.isEmpty()
