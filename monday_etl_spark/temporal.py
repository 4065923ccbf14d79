"""Temporal/snapshot layer: dual-write, day-over-day compare, health checks.

The reference loads every entity twice per run — a truncated current snapshot
and an append-only day-partitioned historical table — then queries "latest
day vs previous day" (SURVEY.md §1.2, §2.10). This module is the engine-side
implementation of that lifecycle on Parquet:

- ``dual_write``: snapshot overwrite + historical *partition* overwrite. The
  partition overwrite (not blind append) makes same-day re-runs idempotent,
  deliberately fixing the reference's observed double-append bug
  (logs show 184 = 2x92 project rows after two same-day runs; SURVEY §2.10).
- ``compare_with_previous_day``: O-39 snapshot diff as a DataFrame function.
- ``check_*``: the data-quality probes of advanced_monitoring.py as small
  DataFrame builders; ``health_report`` collects them into a dict like the
  reference's report layer (driver-side by design — the inputs are 1-row DFs).

Scale: historical tables are partitioned by extraction_date, so a query
that filters on a literal day prunes to that partition. The day-over-day
compare does not: it aggregates every day of history, then joins the two
latest days. The quality probes aggregate map-side before any exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import money_sum
from .io import write_historical, write_snapshot


def dual_write(df: DataFrame, base_path: str, table: str) -> None:
    """O-31 + O-32: current snapshot (overwrite) + historical
    (extraction_date partition overwrite, idempotent)."""
    write_snapshot(df, os.path.join(base_path, table))
    write_historical(df, os.path.join(base_path, f"{table}_historical"))


def read_historical(spark: SparkSession, base_path: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_path, f"{table}_historical"))


def compare_with_previous_day(hist: DataFrame, id_col: str, measure_col: str) -> DataFrame:
    """O-39: latest-day vs previous-day entity counts and measure totals
    (ref: compare_with_previous_day, monday_etl_automated.py:600-645).

    Works on any historical table with an ``extraction_date`` column. The
    daily pre-aggregate scans the whole history (the latest day is only
    known after it), reducing it to one row per day before the tiny join.
    """
    daily = hist.groupBy("extraction_date").agg(
        F.countDistinct(id_col).alias("n_entities"),
        money_sum(F.col(measure_col)).alias("total_measure"),
    )
    latest = daily.agg(F.max("extraction_date").alias("today"))
    t = latest.join(daily, daily.extraction_date == latest.today).select(
        F.col("extraction_date").alias("today"),
        F.col("n_entities").alias("entities_today"),
        F.col("total_measure").alias("measure_today"),
    )
    y = latest.join(
        daily, daily.extraction_date == F.date_sub(latest.today, 1), "left"
    ).select(
        F.col("today").alias("t2"),
        F.col("n_entities").alias("entities_yesterday"),
        F.col("total_measure").alias("measure_yesterday"),
    )
    return t.join(y, t.today == y.t2).select(
        "today",
        "entities_today",
        "entities_yesterday",
        (F.col("entities_today") - F.col("entities_yesterday")).alias("entities_change"),
        "measure_today",
        "measure_yesterday",
        F.round(F.col("measure_today") - F.col("measure_yesterday"), 2).alias(
            "measure_change"
        ),
    )


def latest_snapshot_view(hist: DataFrame, key: str,
                         order_col: str = "extraction_timestamp") -> DataFrame:
    """Latest row per entity across the whole history (the row_number dedup
    view the duplicate check implies; SURVEY §2.5 note). Tie-break on the
    key itself keeps the winner deterministic."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.desc(order_col), F.desc(key))
    return (
        hist.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(spark: SparkSession, path: str, updates: DataFrame,
                 key: str) -> None:
    """Entity-level MERGE (upsert) on a flat parquet snapshot — the
    Delta-MERGE alternative to partition overwrite (SURVEY §2.10): rows in
    ``updates`` replace same-key rows, others are kept.

    Full read → anti-join → union → TEMP sibling → swap. Writing the merged
    result to a new directory before touching the old one means the source
    files still exist while any task re-runs; relying on cache()+count()
    instead (the r01 approach) is unsafe on a real cluster — cached blocks
    are not durable, and eviction or executor loss would trigger
    recomputation from already-deleted files. A bucket-pruned MERGE with
    atomic commits and time travel is ``tableformat.merge_versioned``.
    """
    import shutil

    if os.path.exists(path):
        current = spark.read.parquet(path)
        kept = current.join(updates.select(key), key, "left_anti")
        merged = kept.unionByName(updates)
        tmp = path.rstrip("/") + "__merge_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        old = path.rstrip("/") + "__merge_old"
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        updates.write.mode("overwrite").parquet(path)


def check_duplicates(df: DataFrame, key: str) -> DataFrame:
    """O-25 (advanced_monitoring.py:146-154): duplicate keys in a snapshot."""
    return (
        df.groupBy(key)
        .count()
        .filter(F.col("count") > 1)
        .agg(
            F.count("*").alias("n_duplicate_keys"),
            F.coalesce(F.sum("count"), F.lit(0)).alias("n_rows_in_duplicates"),
        )
    )


def check_freshness(hist: DataFrame, as_of) -> DataFrame:
    """O-26 (advanced_monitoring.py:163-168): staleness vs an injected
    'today' (literal for determinism, F-9 note)."""
    last = F.max("extraction_date")
    return hist.agg(
        last.alias("last_extraction_date"),
        F.datediff(F.lit(as_of).cast("date"), last).alias("days_stale"),
    )


def check_completeness(df: DataFrame, measure_col: str) -> DataFrame:
    """Completeness battery (advanced_monitoring.py:113-141): row count,
    measure coverage count + pct, total."""
    n = F.count("*")
    with_measure = F.count(F.when(F.col(measure_col) > 0, 1))
    return df.agg(
        n.alias("n_rows"),
        with_measure.alias("n_with_measure"),
        money_sum(F.col(measure_col)).alias("total_measure"),
        F.when(n > 0, (with_measure.cast("double") / n) * 100).alias("coverage_pct"),
    )


def health_report(snapshot: DataFrame, hist: DataFrame, key: str,
                  measure_col: str, as_of) -> dict:
    """E-2 read path (advanced_monitoring.py:204-268): run the probes and
    collect — the report layer is driver-side over 1-row results."""
    dod = compare_with_previous_day(hist, key, measure_col).first()
    return {
        "completeness": check_completeness(snapshot, measure_col).first().asDict(),
        "duplicates": check_duplicates(snapshot, key).first().asDict(),
        "freshness": check_freshness(hist, as_of).first().asDict(),
        "day_over_day": dod.asDict() if dod is not None else None,
    }
