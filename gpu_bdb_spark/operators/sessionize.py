"""Sessionization — Window-function port of the reference's per-partition
kernels (reference bdb_tools/sessionization.py:21-97; review-bounded variant
q08_utils.py:92-168).

The reference shuffles on the user key and runs imperative per-partition
code (sort, diff, cumsum) because Dask lacked window functions. In Spark the
same semantics are three window expressions; the `partitionBy(user)` window
implies exactly the one shuffle the reference placed by hand
(q02:104 `shuffle(on='wcs_user_sk')`).

Session ids here are (user, session_seq) pairs — dense per user, starting
at 1. The reference's ids are per-partition integers whose absolute values
are meaningless (sessionization.py:28-36); only the grouping is semantic,
which (user, session_seq) preserves deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    timeout_s: int = 3600,
    tiebreak_col: str | None = None,
    session_col: str = "session_seq",
) -> DataFrame:
    """Assign timeout-based session sequence numbers per user.

    A new session starts at the first event of a user or when the gap to
    the previous event exceeds `timeout_s` (strictly greater, matching
    reference sessionization.py:54-67 `ts_diff > timeout ⇒ boundary`).

    `tiebreak_col` breaks ordering ties for equal timestamps (pass a unique
    id for full determinism). Null users are dropped (reference filters
    null wcs_user_sk before sessionizing, q02:94-103).

    Time math is integer microseconds — exact, engine-portable.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(user_col).orderBy(*order)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(us).over(w)
    new_session = F.when(
        prev_us.isNull() | ((us - prev_us) > timeout_s * 1_000_000), 1
    ).otherwise(0)
    running = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        df.filter(F.col(user_col).isNotNull())
        .withColumn("_new_session", new_session)
        .withColumn(session_col, F.sum("_new_session").over(running))
        .drop("_new_session")
    )


def session_stats(
    sessions: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    session_col: str = "session_seq",
) -> DataFrame:
    """Per-session duration/event-count rollup over `sessionize` output."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return sessions.groupBy(user_col, session_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.max(us) - F.min(us)) / F.lit(1_000_000.0)).alias("duration_s"),
    )


def session_paths(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    timeout_s: int = 3600,
    tiebreak_col: str = "event_id",
    type_col: str = "event_type",
    depth: int = 3,
    min_sessions: int = 1,
) -> DataFrame:
    """Top session-opening paths: sessionize, take each session's first
    `depth` events in time order, join their types into a path string,
    and count sessions per path — the entry-path report behind every
    product-analytics "user flows" screen.

    Plan: the sessionize window is one exchange on the user key; the
    per-session row_number and the (user, session) aggregate both reuse
    that partitioning (HashPartitioning(user) satisfies the clustered
    distribution of the superset key), so the only other exchange is
    the final count on the path string. Path assembly keeps order by
    sorting the (position, type) structs INSIDE the group — no
    order-dependent aggregation crosses a shuffle.

    Returns (path, depth, n_sessions).
    """
    s = sessionize(df, user_col, ts_col, timeout_s, tiebreak_col)
    w = Window.partitionBy(user_col, "session_seq").orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc())
    first_n = (
        s.withColumn("_pos", F.row_number().over(w))
        .filter(F.col("_pos") <= F.lit(int(depth)))
    )
    paths = first_n.groupBy(user_col, "session_seq").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", type_col))),
                lambda x: x[type_col]),
            ">").alias("path"),
        F.count(F.lit(1)).cast("int").alias("depth"),
    )
    return (
        paths.groupBy("path", "depth")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .filter(F.col("n_sessions") >= F.lit(int(min_sessions)))
    )
