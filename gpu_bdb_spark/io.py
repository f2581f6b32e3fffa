"""Table catalog and IO for the driver's synthetic star schema.

Mirrors the reference's reader layer (reference bdb_tools/readers.py:87-135:
per-table parquet dirs, explicit `relevant_cols` pruning, small tables
collapsed to one partition). On Spark, column pruning and predicate pushdown
are automatic once the plan is declarative; the only policy we keep is the
small-table/broadcast classification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables provided by the driver (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimensions small enough to always broadcast — the Spark-native analogue
#: of the reference's SMALL_TABLES / SUPER_SMALL_TABLES single-partition
#: placement (reference bdb_tools/readers.py:48-72, 129-134).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def size_derived_parts(sf_dir: str, name: str,
                       bytes_per_part: int = 1 << 20,
                       lo: int = 8, hi: int = 4096) -> int:
    """Data-derived partition count for AQE-exempt state-bounding
    repartitions: clamp(table_bytes / bytes_per_part, lo, hi).

    A plain os.stat walk — no Spark job. Linear in the input, so a
    repartition sized by it keeps per-task aggregate state bounded at
    any scale factor (the round-13 fat-aggregate OOM class) without
    scheduling hundreds of near-empty tasks at the small SFs, and
    without being tuned to either local core counts or one cluster
    size. Callers whose expansion is super-linear in the input must
    measure their own statistic instead (jaccard_pairs does)."""
    import os

    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path) for f in files)
    elif os.path.exists(path):
        total = os.path.getsize(path)
    else:
        # ADVICE r10: fail fast — a typo'd table/sf_dir silently
        # degrading to a flat fallback width hides the mistake.
        raise FileNotFoundError(
            f"size_derived_parts: no such table path {path!r}")
    return max(lo, min(hi, -(-total // bytes_per_part)))


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize driver-generated timestamp encodings to plain TIMESTAMP.

    The driver's parquet has shipped two encodings across rounds:
    TIMESTAMP(NANOS) (rejected by the vectorized reader; surfaced as
    epoch-nanos BIGINT via spark.sql.legacy.parquet.nanosAsLong) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (surfaced as TIMESTAMP_NTZ by
    Spark 4's inferTimestampNTZ). Both are folded to TIMESTAMP here so every
    downstream epoch computation (unix_micros under forced-UTC session tz)
    sees one type. NTZ→TIMESTAMP under UTC keeps the wall-clock value, which
    is exactly how the DuckDB oracles read the same file.
    """
    for field, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(field, F.col(field).cast("timestamp"))
        elif field == "ts" and dtype == "bigint":
            # epoch-nanos long → truncate to micros with integer division,
            # matching DuckDB's nanos→micros truncation.
            df = df.withColumn(field, F.timestamp_micros(F.expr(f"{field} div 1000")))
    return df


#: Resolved-plan memo for the (immutable) driver tables: maps
#: (applicationId, sf_dir, table) -> the normalized base DataFrame.
#: Plan/metadata reuse ONLY — a DataFrame holds no data; every execution
#: still scans the parquet files. What it skips is the per-call file
#: listing + footer schema read (measured ~250-300 ms of pure plan
#: construction PER QUERY at bench, round 10 — every entry re-resolved
#: every table it touched). Keyed by applicationId so a new
#: SparkContext never sees another context's plans. Only the TABLES
#: of the driver contract route through here; mutable table dirs
#: (upsert/delete/sink roundtrips) use spark.read directly and are
#: never memoized.
_PLAN_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _base_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        # ADVICE r10 (medium): the immutable-tables-only guarantee must
        # not rest on call-site convention — an unknown (potentially
        # mutable/rewritten) path is resolved fresh every call, exactly
        # the pre-memo semantics.
        return _normalize_timestamps(
            spark.read.parquet(table_path(sf_dir, name)))
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir.rstrip("/"), name)
    df = _PLAN_MEMO.get(key)
    if df is None:
        # ADVICE r10 (low): bound the memo to ONE application — a
        # process that stops/recreates SparkSessions would otherwise
        # accumulate py4j references into dead contexts forever.
        stale = [k for k in _PLAN_MEMO if k[0] != app_id]
        for k in stale:
            del _PLAN_MEMO[k]
        df = _normalize_timestamps(spark.read.parquet(table_path(sf_dir, name)))
        _PLAN_MEMO[key] = df
    return df


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
    hint_broadcast: bool | None = None,
) -> DataFrame:
    """Read one synthetic table; optionally project columns and mark for
    broadcast.

    `columns` mirrors the reference's `relevant_cols` contract
    (readers.py:108-127) but is optional: Catalyst prunes the parquet scan
    to the referenced columns regardless; passing it just documents intent.
    """
    df = _base_table(spark, sf_dir, name)
    if columns:
        df = df.select(*columns)
    if hint_broadcast or (hint_broadcast is None and name in BROADCAST_TABLES):
        df = F.broadcast(df)
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each table as a temp view for spark.sql queries
    (reference dask-sql entry point: c.create_table, q01_utils.py:43-46)."""
    for name in names:
        _base_table(spark, sf_dir, name).createOrReplaceTempView(name)
