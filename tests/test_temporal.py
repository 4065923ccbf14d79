"""Temporal layer: idempotent dual-write (the §2.10 double-append fix),
day-over-day compare, quality probes."""

from __future__ import annotations

import datetime as dt

import pytest

from monday_etl_spark.temporal import (
    check_completeness,
    check_duplicates,
    check_freshness,
    compare_with_previous_day,
    dual_write,
    health_report,
    read_historical,
)


def _snapshot(spark, day: str, ids, revenue=100.0):
    rows = [
        (dt.date.fromisoformat(day), str(i), float(revenue))
        for i in ids
    ]
    return spark.createDataFrame(
        rows, "extraction_date date, subitem_id string, revenue_amount double"
    )


def test_dual_write_same_day_rerun_is_idempotent(spark, tmp_path):
    base = str(tmp_path)
    df1 = _snapshot(spark, "2025-06-25", range(5))
    dual_write(df1, base, "subitems")
    # re-run the same day (the reference double-appends here: 2x rows)
    dual_write(df1, base, "subitems")
    hist = read_historical(spark, base, "subitems")
    assert hist.count() == 5  # not 10

    # a second day appends its own partition, leaving day 1 intact
    df2 = _snapshot(spark, "2025-06-26", range(7))
    dual_write(df2, base, "subitems")
    hist = read_historical(spark, base, "subitems")
    assert hist.count() == 12
    assert (
        hist.filter("extraction_date = DATE'2025-06-25'").count() == 5
    )

    # snapshot table always holds only the latest run
    snap = spark.read.parquet(f"{base}/subitems")
    assert snap.count() == 7


def test_compare_with_previous_day(spark, tmp_path):
    base = str(tmp_path)
    dual_write(_snapshot(spark, "2025-06-25", range(4), revenue=50.0), base, "s")
    dual_write(_snapshot(spark, "2025-06-26", range(6), revenue=75.0), base, "s")
    row = compare_with_previous_day(
        read_historical(spark, base, "s"), "subitem_id", "revenue_amount"
    ).first()
    assert row.today == dt.date(2025, 6, 26)
    assert row.entities_today == 6 and row.entities_yesterday == 4
    assert row.entities_change == 2
    assert row.measure_today == pytest.approx(450.0)
    assert row.measure_change == pytest.approx(450.0 - 200.0)


def test_compare_first_day_has_null_previous(spark, tmp_path):
    base = str(tmp_path)
    dual_write(_snapshot(spark, "2025-06-25", range(3)), base, "s")
    row = compare_with_previous_day(
        read_historical(spark, base, "s"), "subitem_id", "revenue_amount"
    ).first()
    assert row.entities_yesterday is None and row.measure_change is None


def test_quality_probes(spark):
    df = spark.createDataFrame(
        [("a", 10.0), ("a", 0.0), ("b", 5.0)],
        "subitem_id string, revenue_amount double",
    )
    dup = check_duplicates(df, "subitem_id").first()
    assert dup.n_duplicate_keys == 1 and dup.n_rows_in_duplicates == 2

    comp = check_completeness(df, "revenue_amount").first()
    assert comp.n_rows == 3 and comp.n_with_measure == 2
    assert comp.coverage_pct == pytest.approx(200 / 3)
    assert comp.total_measure == pytest.approx(15.0)

    hist = spark.createDataFrame(
        [(dt.date(2025, 6, 24),)], "extraction_date date"
    )
    fresh = check_freshness(hist, "2025-06-26").first()
    assert fresh.days_stale == 2


def test_health_report_shape(spark, tmp_path):
    base = str(tmp_path)
    dual_write(_snapshot(spark, "2025-06-25", range(3)), base, "s")
    dual_write(_snapshot(spark, "2025-06-26", range(4)), base, "s")
    rep = health_report(
        spark.read.parquet(f"{base}/s"),
        read_historical(spark, base, "s"),
        "subitem_id",
        "revenue_amount",
        "2025-06-27",
    )
    assert rep["completeness"]["n_rows"] == 4
    assert rep["duplicates"]["n_duplicate_keys"] == 0
    assert rep["freshness"]["days_stale"] == 1
    assert rep["day_over_day"]["entities_change"] == 1


def _history(spark, base, days, name="s"):
    """One ``dual_write`` per (day, ids, revenue) in the order given."""
    for day, ids, revenue in days:
        dual_write(_snapshot(spark, day, ids, revenue), base, name)
    return read_historical(spark, base, name)


def test_compare_uses_newest_two_days_after_a_backfill(spark, tmp_path):
    # the newest day is written first; 06-25 and then an older 06-20 are
    # backfilled after it, and neither run date moves "today"
    hist = _history(spark, str(tmp_path), [
        ("2025-06-26", range(6), 75.0),
        ("2025-06-25", range(4), 50.0),
        ("2025-06-20", range(9), 10.0),
    ])
    row = compare_with_previous_day(hist, "subitem_id", "revenue_amount").first()
    assert row.asDict() == {
        "today": dt.date(2025, 6, 26), "entities_today": 6,
        "entities_yesterday": 4, "entities_change": 2,
        "measure_today": 450.0, "measure_yesterday": 200.0,
        "measure_change": 250.0,
    }


def test_compare_missing_yesterday_gives_nulls(spark, tmp_path):
    # 06-23 is the second-newest day, but not the day before 06-26
    hist = _history(spark, str(tmp_path), [
        ("2025-06-23", range(4), 50.0),
        ("2025-06-26", range(6), 75.0),
    ])
    row = compare_with_previous_day(hist, "subitem_id", "revenue_amount").first()
    assert row.today == dt.date(2025, 6, 26)
    assert row.entities_today == 6 and row.measure_today == 450.0
    assert row.entities_yesterday is None and row.measure_yesterday is None
    assert row.entities_change is None and row.measure_change is None


def test_empty_history_gives_no_day_over_day(spark, tmp_path):
    base = str(tmp_path)
    empty = _snapshot(spark, "2025-06-26", [])
    dual_write(empty, base, "s")
    hist = read_historical(spark, base, "s", empty.schema)
    assert compare_with_previous_day(hist, "subitem_id", "revenue_amount").first() is None
    rep = health_report(spark.read.parquet(f"{base}/s"), hist, "subitem_id",
                        "revenue_amount", "2025-06-27")
    assert rep["day_over_day"] is None
    assert rep["freshness"] == {"last_extraction_date": None, "days_stale": None}
    assert rep["completeness"]["n_rows"] == 0
    assert rep["duplicates"] == {"n_duplicate_keys": 0, "n_rows_in_duplicates": 0}


def test_history_without_day_partitions_raises(spark, tmp_path):
    flat = _snapshot(spark, "2025-06-26", range(3))
    flat.write.parquet(str(tmp_path / "flat"))
    for hist in (spark.read.parquet(str(tmp_path / "flat")), flat):
        with pytest.raises(ValueError, match="extraction_date|day-partitioned"):
            compare_with_previous_day(hist, "subitem_id", "revenue_amount")
        with pytest.raises(ValueError, match="extraction_date|day-partitioned"):
            health_report(flat, hist, "subitem_id", "revenue_amount", "2025-06-27")


def _scans_read(df) -> list[tuple[int, int]]:
    """(partitions read, files read) of every parquet scan in ``df``'s
    executed plan, looking inside adaptive query stages."""
    found, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif name == "FileSourceScanExec":
            metrics = node.metrics()
            found.append((metrics.apply("numPartitions").value(),
                          metrics.apply("numFiles").value()))
        children = node.children()
        todo += [children.apply(i) for i in range(children.size())]
    return found


def test_compare_over_thirty_days_scans_two(spark, tmp_path):
    start = dt.date(2025, 6, 1)
    hist = _history(spark, str(tmp_path), [
        (str(start + dt.timedelta(days=i)), range(i + 1), 1.0) for i in range(30)
    ])
    files = hist.inputFiles()
    newest = [f for f in files if "extraction_date=2025-06-29/" in f
              or "extraction_date=2025-06-30/" in f]
    assert len(files) > len(newest) > 0
    out = compare_with_previous_day(hist, "subitem_id", "revenue_amount")
    row = out.collect()[0]
    assert row.today == dt.date(2025, 6, 30)
    assert (row.entities_today, row.entities_yesterday) == (30, 29)
    assert _scans_read(out) == [(2, len(newest))]


def test_health_report_matches_the_probes(spark, tmp_path):
    base = str(tmp_path)
    hist = _history(spark, base, [("2025-06-25", range(3), 20.0)])
    snap = spark.createDataFrame(
        [("a", 10.25), ("a", 0.0), ("b", 5.5), ("c", None), (None, 1.0), (None, 2.0)],
        "subitem_id string, revenue_amount double",
    )
    rep = health_report(snap, hist, "subitem_id", "revenue_amount",
                        dt.date(2025, 6, 28))
    assert rep["completeness"] == check_completeness(snap, "revenue_amount").first().asDict()
    assert rep["duplicates"] == check_duplicates(snap, "subitem_id").first().asDict()
    assert rep["freshness"] == check_freshness(hist, "2025-06-28").first().asDict()
    assert rep["freshness"]["days_stale"] == 3
