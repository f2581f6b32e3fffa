"""Column-expression helpers shared by queries and operators.

Exactness discipline
--------------------
Results are verified against a DuckDB oracle by value hash, so floating-point
aggregation order must not leak into results. Policy (see SURVEY.md §5 on the
reference's 6-significant-digit comparisons, utils.py:449-477):

* Sums of money-like doubles are computed in DECIMAL (exact, order
  independent) and cast to double at the end — both engines then produce
  bit-identical doubles. `dec()` / `dsum()` below.
* Averages are expressed as exact-decimal-sum / count in double division.
* Inherently floating statistics (stddev, corr, regression slope) are
  rounded to 6 decimals on both sides.
* Timestamp arithmetic is integer microseconds (`unix_micros` here,
  `epoch_us` in DuckDB) under a UTC session time zone.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: decimal(12,4) holds every money/quantity column in the synthetic tables
#: and keeps products within decimal(38,_) bounds for up to three factors.
DEC = "decimal(12,4)"


def dec(col: str | Column) -> Column:
    """Cast a double column to exact decimal(12,4) for order-independent sums."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(col: str | Column, alias: str | None = None) -> Column:
    """Exact decimal sum of a double column, surfaced as double.

    Rounded to 2 decimals after the cast: decimal→double conversion is
    correctly rounded in Spark (BigDecimal.doubleValue) but computed as
    int·10^-scale in DuckDB, which can differ by 1 ulp; rounding at the
    edge absorbs it.
    """
    out = F.round(F.sum(dec(col)).cast("double"), 2)
    return out.alias(alias) if alias else out


def davg(col: str | Column, alias: str | None = None) -> Column:
    """Exact-sum average: decimal sum cast to double, divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.round(F.sum(dec(c)).cast("double") / F.count(c), 6)
    return out.alias(alias) if alias else out


def micros(col: str | Column) -> Column:
    """Epoch microseconds of a timestamp (exact integer; DuckDB: epoch_us)."""
    c = F.col(col) if isinstance(col, str) else col
    # cast is a no-op for TIMESTAMP and folds TIMESTAMP_NTZ (Spark 4 parquet
    # inference) to an instant under the forced-UTC session tz — identical
    # wall-clock epoch to DuckDB's naive read of the same parquet.
    return F.unix_micros(c.cast("timestamp"))


def revenue(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    """Exact decimal `price * (1 - discount)` (classic TPC revenue term)."""
    return dec(price) * (F.lit(1).cast(DEC) - dec(discount))


def r6(col: Column, alias: str | None = None) -> Column:
    """Round an inherently-floating statistic to 6 decimals (both engines)."""
    out = F.round(col, 6)
    return out.alias(alias) if alias else out


def tokenize(text: str | Column, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization to array<string>, empty tokens removed.

    Matches DuckDB `list_filter(string_split_regex(text, '\\s+'), x -> x <> '')`.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, pattern), lambda t: t != "")
