"""Benchmark runner — the Spark analogue of the reference's
benchmark_runner.py (reference gpu_bdb/benchmark_runner.py:39-118: load all
query mains, attach once, N repeats each with timing decomposition).

Times each TPCx-BB query against one shared SparkSession with the
read / compute / write phases separated like the reference's `benchmark()`
wrapper (utils.py:54-84). Results go to parquet per query (the reference's
qNN-results layout, utils.py:117-147) or stay in memory.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from gpu_bdb_spark.queries.tpcxbb import Tables, tpcxbb_query


@dataclass
class QueryTiming:
    query: int
    repeats: list[float] = field(default_factory=list)

    @property
    def best(self) -> float:
        return min(self.repeats) if self.repeats else float("nan")


def run_benchmark(
    spark: SparkSession,
    data_dir: str | None = None,
    frames: dict[str, DataFrame] | None = None,
    queries: list[int] | None = None,
    repeats: int = 1,
    output_dir: str | None = None,
    params: dict[int, dict] | None = None,
) -> dict[int, QueryTiming]:
    """Run `queries` (default 1..30) `repeats` times each (reference
    N_REPEATS=5, benchmark_runner.py:9); returns per-query timings.

    ML queries' payload DataFrames are forced with a count; relational
    queries are forced with a noop write (full computation, no driver
    collect). With `output_dir`, results are written as
    `{output_dir}/qNN-results.parquet` instead (the reference sink).
    """
    tables = Tables(spark, data_dir=data_dir, frames=frames)
    params = params or {}
    timings: dict[int, QueryTiming] = {}
    if queries is None:  # explicit [] means "run nothing", not "run all"
        queries = list(range(1, 31))
    for n in queries:
        timing = QueryTiming(n)
        fn = tpcxbb_query(n)
        for _ in range(repeats):
            t0 = time.perf_counter()
            result = fn(spark, tables, **params.get(n, {}))
            if isinstance(result, dict):
                # ML queries return payload frames (metrics/clusters/
                # confusion); sink each like the reference's per-query
                # results dir (utils.py:117-147)
                for key, v in result.items():
                    if not isinstance(v, DataFrame):
                        continue
                    if output_dir:
                        v.write.mode("overwrite").parquet(
                            f"{output_dir.rstrip('/')}"
                            f"/q{n:02d}-{key}-results.parquet")
                    else:
                        v.count()
            elif output_dir:
                result.write.mode("overwrite").parquet(
                    f"{output_dir.rstrip('/')}/q{n:02d}-results.parquet")
            else:
                result.write.format("noop").mode("overwrite").save()
            timing.repeats.append(round(time.perf_counter() - t0, 3))
        timings[n] = timing
    return timings


def _occurrence_key(out: dict[str, float], name: str) -> str:
    """`name` on its first occurrence in one stream's timings, then
    `name#2`, `name#3`, ...: a repeated name must not overwrite the
    earlier time."""
    if name not in out:
        return name
    k = 2
    while f"{name}#{k}" in out:
        k += 1
    return f"{name}#{k}"


def timings_json(timings: dict[int, QueryTiming]) -> str:
    return json.dumps(
        {f"q{n:02d}": t.best for n, t in sorted(timings.items())})


def run_throughput(
    spark: SparkSession,
    data_dir: str | None = None,
    frames: dict[str, DataFrame] | None = None,
    queries: list[int] | None = None,
    n_streams: int = 2,
    params: dict[int, dict] | None = None,
) -> dict:
    """TPCx-BB THROUGHPUT phase: `n_streams` concurrent query streams
    over one SparkSession, stream i running the query list rotated by i
    (the spec's permutation idea — streams never hit the same query
    simultaneously). The reference benchmark runner is power-phase only
    (serial, benchmark_runner.py); the spec's throughput test is what a
    multi-tenant 100 TB cluster actually experiences, and Spark's
    scheduler handles it natively: each stream runs in its own FAIR
    pool so a long scan in one stream doesn't starve the others.

    Returns {"wall_s", "n_streams", "per_stream": {stream: {qNN: s}}};
    a query repeated in one stream is keyed `qNN#2`, `qNN#3`, ...
    Throughput metric = n_streams · |queries| / wall_s (queries/sec).
    """
    from concurrent.futures import ThreadPoolExecutor

    if queries is None:
        queries = list(range(1, 31))
    params = params or {}
    tables = Tables(spark, data_dir=data_dir, frames=frames)
    # scheduler.mode is a STATIC conf — the runner CLI builds the
    # session with FAIR for --streams; on an external FIFO session the
    # pools are inert and streams still interleave at the task level.

    def run_stream(i: int) -> dict[str, float]:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"stream-{i}")
        order = queries[i % len(queries):] + queries[: i % len(queries)]
        out = {}
        for n in order:
            t0 = time.perf_counter()
            result = tpcxbb_query(n)(spark, tables, **params.get(n, {}))
            if isinstance(result, dict):
                for v in result.values():
                    if isinstance(v, DataFrame):
                        v.count()
            else:
                result.write.format("noop").mode("overwrite").save()
            out[_occurrence_key(out, f"q{n:02d}")] = round(
                time.perf_counter() - t0, 3)
        sc.setLocalProperty("spark.scheduler.pool", None)
        return out

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=n_streams) as ex:
        per_stream = list(ex.map(run_stream, range(n_streams)))
    wall = round(time.perf_counter() - t0, 3)
    return {
        "wall_s": wall,
        "n_streams": n_streams,
        "queries_per_sec": round(n_streams * len(queries) / wall, 4),
        "per_stream": {i: t for i, t in enumerate(per_stream)},
    }


def run_registry_throughput(
    spark: SparkSession,
    sf_dir: str,
    names: list[str],
    n_streams: int = 4,
) -> dict:
    """Throughput phase over REGISTRY entries (the driver-contract
    queries) instead of the TPCx-BB numbered set: `n_streams`
    concurrent streams over one SparkSession, stream i running `names`
    rotated by i so streams never hit the same query simultaneously
    (same shape as `run_throughput`). Each stream tags its jobs with
    its own FAIR pool; on a FIFO session the pools are inert and
    streams still interleave at task granularity, so the number is
    comparable either way as long as the session mode is held fixed
    (bench.py builds FAIR).

    Returns {"wall_s", "n_streams", "queries_per_sec", "per_stream"};
    `per_stream` keys repeats of a name like `run_throughput` does.
    """
    from concurrent.futures import ThreadPoolExecutor

    from gpu_bdb_spark.queries.registry import (all_specs,
                                                collect_boundary,
                                                interleaved_collection)

    specs = all_specs()

    def run_stream(i: int) -> dict[str, float]:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"stream-{i}")
        order = names[i % len(names):] + names[: i % len(names)]
        out = {}
        for name in order:
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            out[_occurrence_key(out, name)] = round(
                time.perf_counter() - t0, 3)
        sc.setLocalProperty("spark.scheduler.pool", None)
        return out

    # Streams construct entries CONCURRENTLY: the registry's per-entry
    # construct-time cache clear would evict another stream's persisted
    # intermediates mid-query, so suspend it and take over the
    # lifecycle obligation with one boundary after the phase.
    # try/finally: a stream that raises must not skip the boundary —
    # the long-lived session would keep every stream's persisted
    # intermediates cached (the cache-lifecycle class the per-entry
    # boundary exists to prevent).
    t0 = time.perf_counter()
    try:
        with interleaved_collection():
            with ThreadPoolExecutor(max_workers=n_streams) as ex:
                per_stream = list(ex.map(run_stream, range(n_streams)))
        wall = round(time.perf_counter() - t0, 3)
    finally:
        collect_boundary(spark)
    return {
        "wall_s": wall,
        "n_streams": n_streams,
        "queries_per_sec": round(n_streams * len(names) / wall, 4),
        "per_stream": {i: t for i, t in enumerate(per_stream)},
    }


def _main() -> None:
    """CLI: run TPCx-BB queries against a parquet data_dir.

    python -m gpu_bdb_spark.runner --data-dir /path --queries 1 7 9 \
        --repeats 2 [--output-dir /tmp/results]
    """
    import argparse

    from gpu_bdb_spark.session import get_spark

    ap = argparse.ArgumentParser(description="TPCx-BB benchmark runner")
    ap.add_argument("--data-dir", required=True,
                    help="directory with {table}/ parquet subdirs")
    ap.add_argument("--queries", type=int, nargs="*", default=None,
                    help="query numbers (default 1..30)")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--output-dir", default=None,
                    help="write qNN-results.parquet per query")
    ap.add_argument("--streams", type=int, default=0,
                    help="run the TPCx-BB throughput phase with N "
                         "concurrent streams instead of the serial "
                         "power phase")
    args = ap.parse_args()

    # FAIR is a static conf: build it in ONLY for the throughput phase
    # (FIFO is the right default for serial power-phase latency)
    extra = ({"spark.scheduler.mode": "FAIR"} if args.streams > 0 else None)
    spark = get_spark(app_name="gpu_bdb_spark-runner", extra_conf=extra)
    if args.streams > 0:
        print(json.dumps(run_throughput(
            spark, data_dir=args.data_dir, queries=args.queries,
            n_streams=args.streams)))
    else:
        timings = run_benchmark(
            spark, data_dir=args.data_dir, queries=args.queries,
            repeats=args.repeats, output_dir=args.output_dir)
        print(timings_json(timings))


if __name__ == "__main__":
    _main()
