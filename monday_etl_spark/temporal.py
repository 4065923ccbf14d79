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
  DataFrame builders; ``health_report`` returns the same values in a dict
  like the reference's report layer (driver-side by design — the results
  are one row each), with completeness and duplicates in one aggregate.

Scale: historical tables are partitioned by extraction_date, and the days
a table holds are its partition directories. ``spark.read.parquet`` lists
them when the frame is built, so ``history_days`` reads them from that
listing without a job. The day-over-day compare uses it to scan only the
newest day and the day before (two partitions, one aggregate), and the
health report answers freshness from it; neither cost grows with the
number of days kept. The quality probes aggregate map-side before any
exchange.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .functions import money_sum
from .io import write_historical, write_snapshot


def dual_write(df: DataFrame, base_path: str, table: str) -> None:
    """O-31 + O-32: current snapshot (overwrite) + historical
    (extraction_date partition overwrite, idempotent)."""
    write_snapshot(df, os.path.join(base_path, table))
    write_historical(df, os.path.join(base_path, f"{table}_historical"))


def read_historical(spark: SparkSession, base_path: str, table: str,
                    schema: StructType | None = None) -> DataFrame:
    """The day-partitioned history of ``table``. With the ``schema`` the
    loads wrote, the read skips the parquet footer-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(base_path, f"{table}_historical"))


_DAY_DIR = re.compile(r"/extraction_date=([^/]+)/")


def history_days(hist: DataFrame) -> list[dt.date]:
    """The days a historical table holds, oldest first, read from the
    ``extraction_date=`` directories ``spark.read.parquet`` listed for
    ``hist`` (no job). ``hist`` must be the table as ``read_historical``
    returns it: a file without such a directory, or rows that come from
    no file, raise ``ValueError``. A history with no files has no days."""
    files = hist.inputFiles()
    days = set()
    for f in files:
        m = _DAY_DIR.search(f)
        if m is None:
            raise ValueError(
                f"{f} is not under an extraction_date= directory: the "
                "history must be read from its day-partitioned table")
        value = urllib.parse.unquote(m.group(1))
        if value != "__HIVE_DEFAULT_PARTITION__":
            days.add(dt.date.fromisoformat(value))
    if not files and not hist.isEmpty():
        raise ValueError("history rows come from no file: the history must "
                         "be read from its day-partitioned table")
    return sorted(days)


def compare_with_previous_day(hist: DataFrame, id_col: str, measure_col: str) -> DataFrame:
    """O-39: latest-day vs previous-day entity counts and measure totals
    (ref: compare_with_previous_day, monday_etl_automated.py:600-645).

    ``hist`` is a historical table as ``read_historical`` returns it. The
    newest day present (not the run date, so a backfilled older day does
    not move it) comes from the partition listing; only that day's and
    the day before's partitions are scanned, in one aggregate. A missing
    previous day gives null yesterday fields; an empty history, no row.
    """
    days = history_days(hist)
    today = days[-1] if days else None
    yesterday = today - dt.timedelta(days=1) if days else None
    has_yesterday = F.lit(yesterday in days)
    day = F.col("extraction_date")
    on_today, on_yesterday = day == F.lit(today), day == F.lit(yesterday)
    scanned = [d for d in (yesterday, today) if d in days]
    out = hist.filter(day.isin(*scanned)).agg(
        F.lit(today).cast("date").alias("today"),
        F.countDistinct(F.when(on_today, F.col(id_col))).alias("entities_today"),
        F.when(has_yesterday, F.countDistinct(F.when(on_yesterday, F.col(id_col))))
        .alias("entities_yesterday"),
        money_sum(F.when(on_today, F.col(measure_col))).alias("measure_today"),
        F.when(has_yesterday, money_sum(F.when(on_yesterday, F.col(measure_col))))
        .alias("measure_yesterday"),
    ).select(
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
    return out if days else out.limit(0)


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


def _snapshot_probes(df: DataFrame, key: str, measure_col: str) -> DataFrame:
    """``check_completeness`` and ``check_duplicates`` in one aggregate:
    per-key counts and exact decimal sums first, then one row. Sums of
    the per-key decimal sums equal the row sums, so every value is the
    two probes' own."""
    per_key = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col(measure_col) > 0, 1)).alias("n_pos"),
        F.sum(F.col(measure_col).cast("decimal(18,2)")).alias("total"),
    )
    n = F.coalesce(F.sum("n"), F.lit(0))
    with_measure = F.coalesce(F.sum("n_pos"), F.lit(0))
    dup = F.col("n") > 1
    return per_key.agg(
        n.alias("n_rows"),
        with_measure.alias("n_with_measure"),
        F.round(F.sum("total").cast("double"), 2).alias("total_measure"),
        F.when(n > 0, (with_measure.cast("double") / n) * 100).alias("coverage_pct"),
        F.count(F.when(dup, 1)).alias("n_duplicate_keys"),
        F.coalesce(F.sum(F.when(dup, F.col("n"))), F.lit(0)).alias("n_rows_in_duplicates"),
    )


def health_report(snapshot: DataFrame, hist: DataFrame, key: str,
                  measure_col: str, as_of) -> dict:
    """E-2 read path (advanced_monitoring.py:204-268): run the probes and
    collect — the report layer is driver-side over 1-row results.

    ``hist`` is a historical table as ``read_historical`` returns it.
    Freshness comes from its partition listing (no job); ``as_of`` is a
    date, datetime or ISO string, of which the date part is read.
    Completeness and duplicates share one aggregate over ``snapshot``."""
    days = history_days(hist)
    dod = compare_with_previous_day(hist, key, measure_col).first()
    probes = _snapshot_probes(snapshot, key, measure_col).first().asDict()
    last = days[-1] if days else None
    as_of_day = dt.date.fromisoformat(str(as_of)[:10])
    return {
        "completeness": {k: probes[k] for k in (
            "n_rows", "n_with_measure", "total_measure", "coverage_pct")},
        "duplicates": {k: probes[k] for k in (
            "n_duplicate_keys", "n_rows_in_duplicates")},
        "freshness": {"last_extraction_date": last,
                      "days_stale": (as_of_day - last).days if days else None},
        "day_over_day": dod.asDict() if dod is not None else None,
    }
