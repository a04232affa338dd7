"""Cross-engine deterministic aggregation canon (SURVEY.md §7 hard-part 1).

The driver hash-compares Spark results against DuckDB. A plain
``SUM(double)`` is order-dependent: Spark sums per-partition then
merges, DuckDB sums in its own order, and the two doubles differ in the
last bits — rounding afterwards only shrinks, never eliminates, the
mismatch window.

The canon used by every query in this repo instead makes the aggregate
itself exact:

    Spark :  sum(col.cast(DECIMAL(38,10))).cast(double)
    DuckDB:  CAST(CAST(SUM(<expr as DECIMAL(38,10), through VARCHAR>)
                  AS VARCHAR) AS DOUBLE)

double→decimal(38,10) is a deterministic half-up rounding at the 10th
fractional digit of the double's shortest decimal repr. Spark's cast
rounds that repr, and so does DuckDB's once the double is first cast
to VARCHAR; its direct cast rounds the exact binary expansion instead,
which differs for fractional values from ~1e6 up (-1234567.89 becomes
-1234567.8899999998). One exception is mapped by hand: DuckDB 1.0.0
parses a scientific-notation string whose digits all lie past the 11th
decimal as ±1e-10 when its first digit is 5-9 (6.4e-12 → 1e-10), so
magnitudes below 1e-11, which round to 0, are cast as 0
(:func:`dsum_sql`). The decimal SUM is exact integer arithmetic —
associative, order-free. decimal→double is correctly rounded on Spark
(BigDecimal.doubleValue) but DuckDB's direct DECIMAL→DOUBLE cast is
occasionally 1 ulp off (DuckDB 1.0.0: 289473120.0 + 0.03 comes back as
289473120.03000003), so the DuckDB side goes through VARCHAR, which
DuckDB parses with a correctly-rounded strtod (:func:`dbl_sql`).
Net: bit-identical doubles on both sides, at any partition count.

Four kernels spell the canon, one per engine and aggregate:
:func:`dsum` / :func:`davg` (Spark Columns) and :func:`dsum_sql` /
:func:`davg_sql` (DuckDB SQL). None of them aliases its result, so each
can sit inside ``/ COUNT(…)``, ``ROUND(…)`` or a window frame; the
caller adds the alias. This module is the only one that spells the
decimal width (:data:`DEC`) or the VARCHAR route.

Cost: decimal aggregation is slower than double aggregation, but it
stays inside whole-stage codegen (no Python boundary) and is still a
single-pass hash aggregate; the 2× bench envelope holds (measured in
bench.py). At true 100 TB scale one would flip `dsum` to plain double
sums once an engine-internal comparison replaces the cross-engine hash
gate — the query shapes don't change.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

#: Decimal type wide enough for sums over 1e9 rows of 1e10-magnitude
#: values while keeping 10 fractional digits. The same spelling parses
#: in Spark SQL and DuckDB, so SQL strings interpolate it too.
DEC = "DECIMAL(38,10)"


def dsum(col: Column | str, over: WindowSpec | None = None) -> Column:
    """Order-independent SUM over a double column (or, with ``over``,
    over a window frame), emitted as double. Twin of :func:`dsum_sql`."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.sum(c.cast(DEC))
    return (s if over is None else s.over(over)).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent AVG: exact decimal sum / count, double division.
    Twin of :func:`davg_sql`."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def dbl_sql(expr: str) -> str:
    """DuckDB DECIMAL (or HUGEINT) → DOUBLE, correctly rounded: through
    VARCHAR, because the direct cast can be 1 ulp off."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def dsum_sql(expr: str, over: str | None = None) -> str:
    """DuckDB twin of :func:`dsum`; ``over`` is the window clause body
    (``''`` for ``OVER ()``). Each row reaches DECIMAL through VARCHAR,
    so DuckDB rounds the shortest repr as Spark's cast does; magnitudes
    below 1e-11, which that parse can round up, are cast as 0."""
    dec = f"CASE WHEN ABS({expr}) < 1e-11 THEN 0 ELSE CAST(CAST({expr} AS VARCHAR) AS {DEC}) END"
    s = f"SUM({dec})"
    return dbl_sql(s if over is None else f"{s} OVER ({over})")


def davg_sql(expr: str) -> str:
    """DuckDB twin of :func:`davg` (the same correctly-rounded sum, then
    an exact double division both engines perform identically)."""
    return f"{dsum_sql(expr)} / COUNT({expr})"


def cos_sql(a: str, b: str, k: int = 64) -> str:
    """DuckDB cosine of two ``k``-dim lists with Spark's exact fold
    order. 0.0 + x == x in IEEE, so Spark's zero-seeded F.aggregate
    fold equals DuckDB's first-element-seeded list_reduce, making every
    cosine bit-identical cross-engine. ONE definition on purpose: this
    string encodes the load-bearing fold-order canon, and a drifted copy
    would be a silent last-ulp oracle divergence."""

    def dot(x: str, y: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {k}), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)), (x, y) -> x + y)"
        )

    return f"({dot(a, b)} / (SQRT({dot(a, a)}) * SQRT({dot(b, b)})))"
