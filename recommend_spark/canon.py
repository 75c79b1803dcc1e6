"""Canonicalization helpers (SURVEY.md §5.3 determinism discipline).

Shared by every registered query so Spark output hashes equal the DuckDB
oracle's: floats rounded to 4 decimals, timestamps emitted as epoch seconds
(floor) or ISO strings, arrays emitted sorted/joined.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def ident(col: Column | str, alias: str | None = None) -> Column:
    """Pass-through alias helper.

    IMPORTANT determinism finding (verified): ``round(double, n)`` DISAGREES
    between Spark and DuckDB — Spark rounds the shortest-decimal repr
    (BigDecimal.valueOf), DuckDB rounds the binary value, so e.g.
    17947.609949999996 rounds to 17947.61 vs 17947.6099.  Per-row IEEE-754
    arithmetic (+,-,*,/) is bit-deterministic across engines, so the rule is:
    never round doubles for output; make nondeterministic *accumulations*
    exact via DECIMAL (dsum/davg) instead.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.alias(alias) if alias else c


# Back-compat alias used where a "canonicalize float" marker reads better.
r4 = ident


def epoch_s(col: Column | str, alias: str | None = None) -> Column:
    """Timestamp (tz or ntz) -> epoch seconds as BIGINT, flooring sub-seconds.

    DuckDB twin: ``CAST(floor(epoch(ts)) AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.floor(c.cast("timestamp").cast("double")).cast("long")
    return c.alias(alias) if alias else c


def iso_date(col: Column | str, alias: str | None = None) -> Column:
    """Timestamp -> 'YYYY-MM-DD' string.  DuckDB twin: strftime(ts,'%Y-%m-%d')."""
    c = F.date_format(F.col(col) if isinstance(col, str) else col, "yyyy-MM-dd")
    return c.alias(alias) if alias else c


def dsum(col: Column | str, alias: str | None = None, scale: int = 2) -> Column:
    """Exact grouped SUM of a money-like column via DECIMAL, emitted as double.

    Float summation order differs across engines/partitionings; summing in
    DECIMAL(18,s) is exact and associative, so the hash matches bit-for-bit.
    DuckDB twin: ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.sum(c.cast(f"decimal(18,{scale})")).cast("double")
    return c.alias(alias) if alias else c


def davg(col: Column | str, alias: str | None = None, scale: int = 2) -> Column:
    """Deterministic AVG: exact decimal sum, then one IEEE double division.

    DuckDB twin:
    ``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(c)
    return c.alias(alias) if alias else c


#: DuckDB-side epoch-seconds expression (keep in one place for consistency).
def sql_epoch_s(expr: str) -> str:
    return f"CAST(floor(epoch({expr})) AS BIGINT)"


def md5_int(col: Column, hexdigits: int) -> Column:
    """First ``hexdigits`` hex digits of md5(col as string), as BIGINT.

    THE single definition of the engine-neutral hash-integer trick every
    deterministic sampling/bucketing operator builds on (hash splits,
    md5-as-uniform Bernoulli draws, packing buckets, count-min rows):
    md5 is md5 everywhere, so the value — and anything derived from it —
    is identical in Spark and the DuckDB oracle, stable under
    repartitioning, and RNG-free.  DuckDB twin: ``sql_md5_int``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, hexdigits), 16, 10).cast(
        "long"
    )


def sql_md5_int(expr: str, hexdigits: int) -> str:
    """DuckDB twin of ``md5_int``; pass a VARCHAR-typed SQL expression."""
    return (
        f"CAST('0x' || substring(md5({expr}), 1, {hexdigits}) AS BIGINT)"
    )

