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
    """Entity-level MERGE (upsert) on a parquet snapshot — the Delta-MERGE
    alternative to partition overwrite (SURVEY §2.10): rows in ``updates``
    replace same-key rows, others are kept.

    Dispatches on the table layout: a snapshot written with
    ``write_bucketed_snapshot`` (self-described by its ``_bucket_spec.json``)
    merges through the partition-pruned path — cost proportional to touched
    buckets, the plain-parquet shape of Delta's file-pruned MERGE INTO. A
    flat snapshot falls back to the full read → anti-join → union → TEMP
    sibling → swap. Writing the merged result to a new directory before
    touching the old one means the source files still exist while any task
    re-runs; relying on cache()+count() instead (the r01 approach) is unsafe
    on a real cluster — cached blocks are not durable, and eviction or
    executor loss would trigger recomputation from already-deleted files.
    """
    import os
    import shutil

    if _read_bucket_spec(path) is not None:
        merge_upsert_bucketed(spark, path, updates)
        return
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


_BUCKET_SPEC = "_bucket_spec.json"
_BUCKET_COL = "__bucket"


def _bucket_expr(key: str, n_buckets: int):
    # xxhash64: stable across Spark versions and sessions (unlike F.hash's
    # seed-sensitive Murmur3 usage elsewhere it's fine, but the layout hash
    # must never change once data is on disk)
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def _read_bucket_spec(path: str) -> dict | None:
    import json

    spec = os.path.join(path, _BUCKET_SPEC)
    if not os.path.exists(spec):
        return None
    with open(spec) as fh:
        return json.load(fh)


def write_bucketed_snapshot(df: DataFrame, path: str, key: str,
                            n_buckets: int = 64) -> None:
    """Write a snapshot laid out for pruned merges: partitioned by
    ``__bucket = pmod(xxhash64(key), n_buckets)`` and self-described by a
    ``_bucket_spec.json`` so later merges (and readers) need no out-of-band
    layout knowledge. At 100 TB, ``n_buckets`` sizes the unit of merge I/O —
    pick it so one bucket (~table_size / n_buckets) is a comfortable
    task-level rewrite, e.g. 4096 buckets over 100 TB = ~25 GB per bucket.

    The spec file is written with the local ``open`` (same single-FS
    assumption as the swap in ``merge_upsert``); on HDFS/S3 this becomes the
    Hadoop FileSystem API or, properly, a Delta/Iceberg table."""
    import json

    (
        df.withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
        .write.mode("overwrite")
        .partitionBy(_BUCKET_COL)
        .parquet(path)
    )
    with open(os.path.join(path, _BUCKET_SPEC), "w") as fh:
        json.dump({"key": key, "n_buckets": n_buckets}, fh)


def read_bucketed_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read back a bucketed snapshot without the layout column."""
    return spark.read.parquet(path).drop(_BUCKET_COL)


def merge_upsert_bucketed(spark: SparkSession, path: str,
                          updates: DataFrame) -> None:
    """Partition-pruned MERGE on a ``write_bucketed_snapshot`` table.

    1. Bucket the updates with the layout hash from ``_bucket_spec.json``
       and collect the DISTINCT touched bucket ids (bounded by n_buckets —
       a few thousand ints, never data-sized).
    2. Scan ONLY those buckets (``__bucket IN (...)`` prunes at the
       partition-directory level — check ``.explain``: PartitionFilters),
       anti-join out the updated keys, union the updates back in.
    3. Materialize to a TEMP sibling (Spark refuses to overwrite a path
       it is reading — and the self-read would also be a correctness race),
       then dynamic-partition-overwrite the touched buckets back into the
       table. Untouched buckets are never read, never rewritten.

    Cost is 1 pruned scan + 2 writes of the touched buckets only; a merge
    touching 1% of keys rewrites ~1% of a 100 TB table instead of 100% (the
    flat-path swap). Every touched bucket necessarily contains ≥1 update
    row, so dynamic overwrite can never drop a partition to zero files.
    """
    import shutil

    spec = _read_bucket_spec(path)
    if spec is None:
        raise ValueError(f"{path} is not a bucketed snapshot "
                         f"(missing {_BUCKET_SPEC})")
    key, n_buckets = spec["key"], spec["n_buckets"]

    upd = updates.withColumn(_BUCKET_COL, _bucket_expr(key, n_buckets))
    touched = [r[0] for r in upd.select(_BUCKET_COL).distinct().collect()]
    if not touched:
        return

    current = spark.read.parquet(path).filter(F.col(_BUCKET_COL).isin(touched))
    kept = current.join(upd.select(key), key, "left_anti")
    merged = kept.unionByName(upd)

    tmp = path.rstrip("/") + "__merge_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    try:
        # partitionOverwriteMode=dynamic (session.py): overwrite replaces
        # exactly the partitions present in the written frame — the touched
        # buckets — and leaves every other bucket directory untouched
        (
            spark.read.parquet(tmp)
            .write.mode("overwrite")
            .partitionBy(_BUCKET_COL)
            .parquet(path)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
