"""Codegen-cache regression: a warm query must not recompile.

Spark keeps the Janino-compiled classes of generated code in one
JVM-wide cache (`spark.sql.codegen.cache.maxEntries`, default 100). A
working set above the cache size evicts every class before its next
use, and each warm call then pays for compilation again. `get_spark`
sizes the cache; these tests read Spark's CodegenMetrics around a
second pass over the same queries and require no new compilation.
"""

from __future__ import annotations

import pytest

from gpu_bdb_spark.queries.registry import all_specs
from gpu_bdb_spark.runner import run_benchmark
from gpu_bdb_spark.session import TUNED_CONF, codegen_compilations
from perfbench.workloads import CURATION_ENTRIES, THROUGHPUT6, TPCXBB_QUERIES

from .tpcxbb_fixture import build_fixture


def _warm_compiles(spark, run) -> int:
    """Compilations during the second of two back-to-back calls."""
    run()
    before = codegen_compilations(spark)
    run()
    return codegen_compilations(spark) - before


def _run_entries(spark, sf_dir, names):
    specs = all_specs()
    for name in names:
        specs[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite").save()


def test_session_reports_codegen_cache_size(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == TUNED_CONF[key]
    assert int(TUNED_CONF[key]) > 100
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


@pytest.mark.parametrize("workload", ["tpcxbb", "curation", "throughput"])
def test_warm_benchmark_pass_compiles_nothing(spark, sf_dir, workload):
    """A second pass over each benchmark workload's list compiles no
    class: the TPCx-BB queries on the in-memory fixture, the curation
    entries (pagerank_neardup among them) and the throughput entries at
    the test SF (sf0.001 by default)."""
    if workload == "tpcxbb":
        frames = build_fixture(spark)
        queries = [int(q[1:]) for q in TPCXBB_QUERIES]
        run = lambda: run_benchmark(spark, frames=frames,  # noqa: E731
                                    queries=queries)
    else:
        names = CURATION_ENTRIES if workload == "curation" else THROUGHPUT6
        run = lambda: _run_entries(spark, sf_dir, names)  # noqa: E731
    assert _warm_compiles(spark, run) == 0
