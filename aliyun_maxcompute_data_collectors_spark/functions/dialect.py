"""MaxCompute-dialect scalar/aggregate function surface.

Parity: the Metabase driver's SQL generation
(``metabase-maxcompute-driver/src/metabase/driver/maxcompute.clj``) defines
what a MaxCompute-compatible engine must evaluate (SURVEY.md 2.10).  Each
entry maps to a built-in Spark function; this module adds the dialect's
argument validation (allowed datetime units per type, :741-783 and
:931-958) so misuse fails at plan time, like the driver's own checks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TRUNC_UNITS = {"minute", "hour", "day", "week", "month", "quarter", "year"}
EXTRACT_UNITS = {
    "second", "minute", "hour", "day", "dayofyear", "dayofweek",
    "week", "month", "quarter", "year",
}
DIFF_UNITS = {"second", "minute", "hour", "day", "week", "month", "quarter", "year"}


class DialectError(ValueError):
    pass


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def datetrunc(unit: str, col) -> Column:
    """maxcompute.clj:741-753."""
    u = unit.lower()
    if u not in TRUNC_UNITS:
        raise DialectError(f"datetrunc: bad unit {unit!r} (allowed {sorted(TRUNC_UNITS)})")
    return F.date_trunc(u, _c(col))


def datepart(unit: str, col) -> Column:
    """extract/datepart (:741-754, :767-783); dayofweek is 1=Sunday, ISO week."""
    u = unit.lower()
    if u not in EXTRACT_UNITS:
        raise DialectError(f"datepart: bad unit {unit!r}")
    c = _c(col)
    return {
        "second": lambda: F.second(c),
        "minute": lambda: F.minute(c),
        "hour": lambda: F.hour(c),
        "day": lambda: F.dayofmonth(c),
        "dayofyear": lambda: F.dayofyear(c),
        "dayofweek": lambda: F.dayofweek(c),
        "week": lambda: F.weekofyear(c),
        "month": lambda: F.month(c),
        "quarter": lambda: F.quarter(c),
        "year": lambda: F.year(c),
    }[u]()


def datetime_diff(unit: str, start, end) -> Column:
    """Typed datediff with unit validation (:362-369, :931-958)."""
    u = unit.lower()
    if u not in DIFF_UNITS:
        raise DialectError(f"datetime_diff: bad unit {unit!r}")
    s, e = _c(start), _c(end)
    if u == "day":
        return F.datediff(e.cast("date"), s.cast("date"))
    if u == "week":
        return F.floor(F.datediff(e.cast("date"), s.cast("date")) / 7).cast("int")
    return F.timestamp_diff(u.upper(), s, e)


def timestamp_seconds(col) -> Column:
    return F.timestamp_seconds(_c(col))


def timestamp_millis(col) -> Column:
    return F.timestamp_millis(_c(col))


def timestamp_micros(col) -> Column:
    return F.timestamp_micros(_c(col))


def percentile(col, quantiles: float | list[float]) -> Column:
    """percentile(col, q | array(q...)) (:816-854); exact interpolated, like
    the dialect's percentile function."""
    q = quantiles
    if isinstance(q, (list, tuple)):
        return F.percentile(_c(col), F.array(*[F.lit(float(x)) for x in q]))
    return F.percentile(_c(col), F.lit(float(q)))


def median(col) -> Column:
    return percentile(col, 0.5)


def cumulative(agg: Column, partition_by: list, order_by: list) -> Column:
    """Cumulative sum/count window (:217-218): unbounded-preceding frame."""
    w = (
        Window.partitionBy(*[_c(c) for c in partition_by])
        .orderBy(*[_c(c) for c in order_by])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return agg.over(w)


def offset(expr: Column, n: int, partition_by: list, order_by: list) -> Column:
    """lag/lead (:221-223): negative n = lag, positive = lead."""
    w = Window.partitionBy(*[_c(c) for c in partition_by]).orderBy(
        *[_c(c) for c in order_by])
    return (F.lag(expr, -n) if n < 0 else F.lead(expr, n)).over(w)


def quote_identifier(name: str) -> str:
    """MySQL-style backtick quoting with escape (:246, :376-415) - also what
    the reference pushes for exotic column names (ExecutionUtils.scala:147-153,
    unicode/special chars in FIXTURES.md section 3)."""
    return "`" + name.replace("`", "``") + "`"


def qualified(*parts: str) -> str:
    return ".".join(quote_identifier(p) for p in parts)
