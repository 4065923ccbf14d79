#!/usr/bin/env python
"""Day-over-day compare and health report against the length of history.

Writes a ``project_subitems``-shaped historical table of 8,000 rows a day,
one parquet file per ``extraction_date=`` day, for each history length,
plus the newest day as the serving snapshot. Then, per length and rep, it
times a fresh ``read_historical`` (its directory listing), then
``compare_with_previous_day(...).first()`` and ``health_report`` over that
frame, and counts the Spark jobs of each through a job group. Prints one
JSON line per length with the medians of ``--reps``.

Usage: python tools/history_scale_rehearsal.py [--days 2 60 365] [--reps 5]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from monday_etl_spark import temporal  # noqa: E402
from monday_etl_spark.session import get_spark  # noqa: E402

ROWS_PER_DAY = 8_000
START = dt.date(2025, 1, 1)


def _day(n_day: int) -> pa.Table:
    rng = np.random.default_rng(n_day)
    ids = rng.choice(12_000, ROWS_PER_DAY, replace=False)
    revenue = np.round(rng.uniform(0, 5_000, ROWS_PER_DAY), 2)
    return pa.table({"subitem_id": [f"s{i}" for i in ids],
                     "revenue_amount": revenue})


def write_history(root: str, days: int) -> None:
    for i in range(days):
        table = _day(i)
        part = os.path.join(root, "project_subitems_historical",
                            f"extraction_date={START + dt.timedelta(days=i)}")
        os.makedirs(part)
        pq.write_table(table, os.path.join(part, "part-00000.parquet"))
    snap = os.path.join(root, "project_subitems")
    os.makedirs(snap)
    pq.write_table(table, os.path.join(snap, "part-00000.parquet"))


def _measure(spark, fn, group: str) -> tuple[float, int, object]:
    """(wall seconds, Spark jobs, result) of ``fn()``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return wall, len(sc.statusTracker().getJobIdsForGroup(group)), out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--days", type=int, nargs="+", default=[2, 60, 365])
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    spark = get_spark("history-scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    as_of = str(START + dt.timedelta(days=max(args.days)))
    root = tempfile.mkdtemp(prefix="history_rehearsal_")
    try:
        for days in args.days:
            base = os.path.join(root, f"d{days}")
            write_history(base, days)

            def read(base=base):
                return temporal.read_historical(spark, base, "project_subitems")

            def compare(hist):
                return temporal.compare_with_previous_day(
                    hist, "subitem_id", "revenue_amount").first()

            def health(hist, base=base):
                snap = spark.read.parquet(os.path.join(base, "project_subitems"))
                return temporal.health_report(snap, hist, "subitem_id",
                                              "revenue_amount", as_of)

            compare(read()), health(read())  # warm-up
            runs = {"read": [], "compare": [], "health": []}
            for rep in range(args.reps):
                wall, jobs, hist = _measure(spark, read, f"r{days}-read-{rep}")
                runs["read"].append((wall, jobs))
                for name, fn in (("compare", compare), ("health", health)):
                    wall, jobs, _ = _measure(spark, lambda: fn(hist),
                                             f"r{days}-{name}-{rep}")
                    runs[name].append((wall, jobs))
            print(json.dumps({
                "days": days, "rows_per_day": ROWS_PER_DAY, "reps": args.reps,
                **{f"{name}_s": round(statistics.median(w for w, _ in rs), 3)
                   for name, rs in runs.items()},
                **{f"{name}_jobs": sorted({j for _, j in rs})
                   for name, rs in runs.items()},
                "day_over_day": compare(read()).asDict(),
            }, default=str), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
