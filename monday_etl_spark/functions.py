"""Shared scalar helpers — SURVEY.md §2.8. The cell-level parses (F-1, F-2,
F-4, F-5) live inline in ``normalize``, where they run over cell arrays.

All of these compile to built-in Catalyst expressions (zero Python UDFs), so
they stay inside whole-stage codegen. Each helper documents the reference
semantics it reproduces (file:line cites are into /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# F-3: ISO-8601 'Z' timestamp parse (etl_final_fix.py:23-31), as SQL text
# for ``normalize``'s extractors
def sql_parse_iso_timestamp(expr: str) -> str:
    return f"to_timestamp(regexp_replace({expr}, 'Z$', '+00:00'))"


# ---------------------------------------------------------------------------
# Deterministic money aggregation.
#
# The reference keeps money as FLOAT64 and rounds to 2 decimals in every SQL
# aggregate (F-6, advanced_monitoring.py:60-61). A plain SUM(double) is
# order-dependent across shuffle partitions, so its low bits differ run-to-run
# and engine-to-engine. We instead sum exact DECIMAL(18,2) values (associative,
# commutative, no rounding error) and cast the final result back to DOUBLE —
# same schema as the reference, fully deterministic at any parallelism.
# ---------------------------------------------------------------------------


def money_sum(col: Column) -> Column:
    return F.round(F.sum(col.cast("decimal(18,2)")).cast("double"), 2)


def money_avg(col: Column) -> Column:
    """Deterministic AVG: exact decimal sum / non-null count.

    Deliberately NOT rounded: rounding a double *after* an inexact division is
    engine-dependent near ties (Spark HALF_UPs the exact binary value, DuckDB
    scales-and-rounds), so cross-engine value-hashes would flip on .xx5 cases.
    A single IEEE division of bit-identical inputs is itself bit-identical.
    """
    total = F.sum(col.cast("decimal(18,2)")).cast("double")
    n = F.count(col)
    return F.when(n > 0, total / n)


# SQL-side twins for the DuckDB oracle (kept here so Spark and oracle stay in
# lock-step when the pattern changes).
def sql_money_sum(expr: str) -> str:
    return f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE), 2)"


def sql_money_avg(expr: str) -> str:
    return (
        f"CASE WHEN COUNT({expr}) > 0 THEN "
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({expr}) END"
    )
