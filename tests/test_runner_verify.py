"""Runner loop + verification-semantics tests."""

from __future__ import annotations

import pandas as pd

from gpu_bdb_spark.runner import run_benchmark, timings_json
from gpu_bdb_spark.verify import (
    clustering_acceptable,
    metric_acceptable,
    pseudo_equal,
    scalars_close,
    sentiment_overlap,
)

from .tpcxbb_fixture import build_fixture


def test_runner_times_queries(spark):
    frames = build_fixture(spark)
    timings = run_benchmark(spark, frames=frames, queries=[7, 9],
                            params={7: {"having_count": 1}})
    assert set(timings) == {7, 9}
    assert all(t.best > 0 for t in timings.values())
    assert '"q07"' in timings_json(timings)


def test_pseudo_equal_semantics():
    a = pd.DataFrame({"k": [1, 2], "v": [1.0000001, 2.0]})
    b = pd.DataFrame({"v": [2.0, 1.0000002], "k": [2, 1]})  # reordered
    assert pseudo_equal(a, b)  # column/row order + 6-sig-digit tolerance
    assert not pseudo_equal(a, pd.DataFrame({"k": [1, 2], "v": [1.1, 2.0]}))
    assert not pseudo_equal(a, pd.DataFrame({"k": [1], "v": [1.0]}))


def test_scalar_and_overlap_and_ml_rules():
    assert scalars_close([1.000001], [1.000002])
    assert not scalars_close([1.0], [1.1])
    r = pd.DataFrame({"w": ["a", "b", "c", "d", "e", "f", "g", "h", "i", "j"]})
    e = r.copy()
    assert sentiment_overlap(r, e)
    assert not sentiment_overlap(r.head(5), e)  # 50% < 90%
    assert clustering_acceptable(99.0, 100.0)       # better
    assert clustering_acceptable(100.005, 100.0)    # within 0.01%
    assert not clustering_acceptable(101.0, 100.0)
    assert metric_acceptable(0.95, 0.9)
    assert not metric_acceptable(0.8, 0.9)


def test_throughput_phase_concurrent_streams(spark):
    """TPCx-BB throughput phase: 2 concurrent streams, rotated query
    orders, both complete with per-query timings and results identical
    to serial execution (same session, FAIR pools)."""
    from gpu_bdb_spark.runner import run_throughput

    frames = build_fixture(spark)
    out = run_throughput(spark, frames=frames, queries=[7, 9],
                         n_streams=2, params={7: {"having_count": 1}})
    assert out["n_streams"] == 2 and out["wall_s"] > 0
    assert set(out["per_stream"]) == {0, 1}
    # stream 0 runs [7, 9]; stream 1 runs the rotation [9, 7]
    assert list(out["per_stream"][0]) == ["q07", "q09"]
    assert list(out["per_stream"][1]) == ["q09", "q07"]
    assert all(t > 0 for s in out["per_stream"].values()
               for t in s.values())
    assert out["queries_per_sec"] > 0


def test_throughput_repeated_name_keeps_every_time(spark, sf_dir):
    """A name repeated in one stream's list keeps each time: the
    second and later occurrences are keyed `name#2`, `name#3`."""
    from gpu_bdb_spark.runner import run_registry_throughput, run_throughput

    frames = build_fixture(spark)
    out = run_throughput(spark, frames=frames, queries=[9, 9, 9],
                         n_streams=1)
    assert list(out["per_stream"][0]) == ["q09", "q09#2", "q09#3"]

    out = run_registry_throughput(
        spark, sf_dir, ["pricing_summary", "agg_stats", "pricing_summary"],
        n_streams=2)
    # stream 1 runs the rotation [agg_stats, pricing_summary, pricing_summary]
    assert list(out["per_stream"][0]) == [
        "pricing_summary", "agg_stats", "pricing_summary#2"]
    assert list(out["per_stream"][1]) == [
        "agg_stats", "pricing_summary", "pricing_summary#2"]
    assert all(t > 0 for s in out["per_stream"].values()
               for t in s.values())


def test_interleaved_collection_preserves_caches(spark, sf_dir):
    """r3 verdict item 9: the registry's construct-time cache clear is
    suspendable for interleaving harnesses. Inside
    interleaved_collection(), constructing entry B must NOT drop entry
    A's persisted intermediates; collect_boundary() then clears them
    explicitly."""
    from gpu_bdb_spark.queries.registry import (all_specs,
                                                collect_boundary,
                                                interleaved_collection)

    specs = all_specs()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    collect_boundary(spark)
    assert cache_mgr.isEmpty()

    # dedup_lsh_verified persists its shingle/signature frames at
    # construction; pricing_summary persists nothing
    with interleaved_collection():
        a = specs["dedup_lsh_verified"].fn(spark, sf_dir)
        assert not cache_mgr.isEmpty()
        b = specs["pricing_summary"].fn(spark, sf_dir)
        # interleaved: B's construction left A's cache alone
        assert not cache_mgr.isEmpty()
        rows_a = a.collect()
        rows_b = b.collect()
        assert len(rows_a) > 0 and len(rows_b) > 0
        collect_boundary(spark)
        assert cache_mgr.isEmpty()

    # default mode restored: constructing any entry clears the cache
    specs["dedup_lsh_verified"].fn(spark, sf_dir)
    assert not cache_mgr.isEmpty()
    specs["pricing_summary"].fn(spark, sf_dir)
    assert cache_mgr.isEmpty()


def test_throughput_boundary_runs_on_stream_failure(spark, sf_dir):
    """ADVICE r06: a stream that raises inside run_registry_throughput
    must not skip the trailing collect_boundary — otherwise every
    stream's persisted intermediates stay cached in the long-lived
    session (the cache-lifecycle accumulation class)."""
    import pytest

    from gpu_bdb_spark.queries.registry import collect_boundary
    from gpu_bdb_spark.runner import run_registry_throughput

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    collect_boundary(spark)
    # dedup_lsh_verified persists at construction; the bogus second
    # entry makes its stream raise KeyError mid-phase
    with pytest.raises(KeyError):
        run_registry_throughput(
            spark, sf_dir, ["dedup_lsh_verified", "no_such_entry"],
            n_streams=2)
    assert cache_mgr.isEmpty()


def test_bench_frozen_sets_resolve():
    """The three frozen bench series must keep resolving against the
    registry forever: BASELINE13 and THROUGHPUT6 from the bench-tagged
    subset, SCALE8 from the full registry (seating a scale query must
    not grow the full series — r06 verdict item 2)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", "/root/repo/bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    from gpu_bdb_spark.queries.registry import all_specs, bench_specs

    tagged, full = set(bench_specs()), set(all_specs())
    assert set(bench.BASELINE13) <= tagged
    assert set(bench.THROUGHPUT6) <= tagged
    assert set(bench.SCALE8) <= full
    assert len(bench.SCALE8) == 8
    # non-bench-tagged SCALE8 members stay out of the full series
    assert {"rolling_user_24h", "tfidf_keywords"} & (full - tagged)
