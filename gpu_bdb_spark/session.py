"""SparkSession construction tuned for the gpu-bdb workload.

The reference hand-manages its cluster (reference
bdb_tools/cluster_startup.py:27-128: one Dask worker per GPU, RMM pools,
explicit small-table placement). On Spark the equivalent knobs are plain
session confs: AQE for runtime re-planning, broadcast threshold for the
dimension tables, shuffle partitions sized to the cluster.

Everything here also works unchanged on a real cluster — only `master`
changes. Local mode is a single JVM, so `spark.driver.memory` is the one
memory knob that matters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that matter at 100 TB scale and cost nothing locally.
TUNED_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones, convert sort-merge joins to broadcast when a side turns out
    # small. Replaces every hand-placed shuffle in the reference
    # (e.g. reference q02:104 `shuffle(on='wcs_user_sk')`).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalesces shuffles toward this BYTE size, but aggregate and
    # hash-join cost is per-task STATE, not bytes: under the driver's
    # default-memory session (1g heap / 8 task slots ≈ 54 MB execution
    # memory per task) the stock 64 MB advisory packs an input-sized
    # group state into a handful of tasks and heap-OOMs fact-scale
    # pair aggregates — measured repeatedly in the round-13 sf1zipf
    # sweeps, with different marginal entries dying per run. 16 MB
    # bounds per-task state ~4× below the stock setting at the cost of
    # more (cheap) tasks; a production deployment with multi-GB
    # executors should raise it back via --conf.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    # Dimension tables (region/nation/supplier/part at our SF; the 15 dims
    # of TPCx-BB) must broadcast — reference hand-rolls this by collapsing
    # them to 1 partition (readers.py:129-134).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamp arithmetic (oracle parity): all epoch math is
    # done in UTC.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for the few pandas-UDF operators (NER stub, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Custom Python Data Sources (sources/corpus_source.py) implement
    # pushFilters(); Spark 4 refuses a reader with that method unless
    # pushdown is explicitly enabled.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Classic (non-ANSI) SQL semantics: the reference computes in permissive
    # float64 (x/0 → inf/NaN scrubbed explicitly, q20:30-43); ANSI aborts
    # whole 100 TB jobs on a single bad row.
    "spark.sql.ansi.enabled": "false",
    # events.parquet carries TIMESTAMP(NANOS) which Spark's reader rejects;
    # read as epoch-nanos long and convert in io.read_table (integer
    # division — a double roundtrip would lose precision at 1e18 ns).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ~128 MB input splits: at 100 TB this yields ~800k tasks, a sane
    # default; locally it keeps small files in one partition.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # Generated-code cache: the Janino-compiled classes, one per
    # distinct generated source, shared by the whole JVM. Spark's
    # default of 100 entries is below the working set of one benchmark
    # pass, so every class is evicted before its next use and every
    # warm query compiles again. Working set, measured as the cold-pass
    # compile count of all 205 registry entries at sf0.01 plus the 30
    # TPCx-BB queries at datagen SF1 in one session with an unbounded
    # cache: 2,729 classes (3,239 with stage ids in class names, below).
    # Sized at the next power of two at or above twice that. Holding
    # that working set took 23 MB more Metaspace after a full GC than
    # the default cache (253 vs 230 MB).
    # Static conf: it applies only to a session built here, and only if
    # no earlier session in the JVM has compiled code (the cache is
    # sized once, at first use).
    "spark.sql.codegen.cache.maxEntries": "8192",
    # The cache key is the generated source, and by default the class
    # name carries the whole-stage codegen stage id. Adaptive execution
    # numbers stages in the order it creates them, which follows the
    # order in which concurrent stages finish, so a warm query can
    # regenerate a class it already compiled under another id. Without
    # the id the source depends only on the plan; the id stays in a
    # comment of the source and in explain output. Runtime-settable,
    # but not in ensure_runtime_conf: with the 100-entry cache of a
    # session built elsewhere it saves little.
    "spark.sql.codegen.useIdInClassName": "false",
    # GCLocker-starvation false OOM (round 14, measured): JNI-critical
    # parquet decompression holds the GC lock while sibling tasks
    # allocate ~1 MB I/O buffers; HotSpot's default of 2 allocation
    # retries gives up and throws java.lang.OutOfMemoryError WITH FREE
    # HEAP ("Retried waiting for GCLocker too often" in the gc log —
    # the sf1zipf sweep died this way at entry ~113 with 120 MB used
    # of 1 g, and round-13's "spill read-ahead buffer" death carries
    # the same signature). More retries cost nothing when the lock is
    # uncontended; this is a stability flag, not a memory-sizing knob.
    # Launch-time only — lives in the builder conf, not runtime conf.
    # (Diagnostic flag on JDK 17 — needs the unlock switch first.)
    "spark.driver.extraJavaOptions":
        "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "gpu_bdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the tuned confs.

    shuffle_partitions defaults to 2× cores locally; on a real cluster set
    it (or leave AQE's coalescing to right-size it downward from a higher
    initial number).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(2 * cpus, 8)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in {**TUNED_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compilations(spark: SparkSession) -> int:
    """Janino compilations so far in this JVM (Spark's CodegenMetrics);
    the delta around a query is the number of classes it generated
    that the codegen cache did not already hold."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of TUNED_CONF to an existing session.

    Query callables receive an externally built SparkSession (the driver's);
    confs like the session time zone are runtime-mutable and required for
    deterministic epoch arithmetic, so set them defensively.
    """
    for key in (
        "spark.sql.ansi.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.python.filterPushdown.enabled",
    ):
        spark.conf.set(key, TUNED_CONF[key])
    return spark
