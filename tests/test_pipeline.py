"""E-1 end-to-end: fixture boards → 5 tables → idempotent dual-write →
day-over-day stats. Mirrors the reference's production run shape
(92 projects / 805 subitems scaled down to the fixture)."""

from __future__ import annotations

import pytest

from monday_etl_spark import fixtures as FX
from monday_etl_spark.pipeline import run_daily_etl
from monday_etl_spark.quality import QualityGate, QualityGateViolation
from monday_etl_spark.source_graphql import FixtureTransport, MondayConnector


class MultiBoardTransport:
    """Routes each board id to its fixture response."""

    def __init__(self):
        self.routes = {
            "projects-board": FX.PROJECTS_BOARD,
            "personnel-board": FX.PERSONNEL_BOARD,
            "travel-board": FX.TRAVEL_BOARD,
            "supplier-board": FX.SUPPLIER_BOARD,
        }

    def __call__(self, query: str) -> dict:
        for board_id, resp in self.routes.items():
            if board_id in query:
                return resp
        raise AssertionError(f"unexpected query: {query[:100]}")


def test_run_daily_etl_end_to_end(spark, tmp_path):
    base = str(tmp_path)
    c = MondayConnector(MultiBoardTransport())

    stats = run_daily_etl(spark, c, base, "2025-06-25", FX.RUN_TS)
    assert stats["tables"] == {
        "projects": 3,
        "project_subitems": 3,
        "personnel_costs": 3,
        "travel_costs": 2,
        "supplier_costs": 2,
    }
    # first day: no previous to compare
    assert stats["day_over_day"]["entities_yesterday"] is None

    # day 2: compare works and day-1 history is intact
    stats2 = run_daily_etl(spark, c, base, "2025-06-26", "2025-06-26 09:00:00")
    dod = stats2["day_over_day"]
    assert dod["entities_today"] == 3 and dod["entities_yesterday"] == 3
    assert dod["measure_change"] == 0.0

    # re-running day 2 is idempotent (the reference double-appends here)
    run_daily_etl(spark, c, base, "2025-06-26", "2025-06-26 10:00:00")
    hist = spark.read.parquet(f"{base}/project_subitems_historical")
    assert hist.count() == 6  # 3 per day, not 9


def test_empty_cost_board_reaches_the_row_floor(spark, tmp_path):
    """A board with no items yields an empty table, not a crash: ungated it
    records 0 rows, gated the row floor names the table."""
    transport = MultiBoardTransport()
    transport.routes["travel-board"] = {
        "data": {"boards": [{"items_page": {"cursor": None, "items": []}}]}
    }
    c = MondayConnector(transport)

    stats = run_daily_etl(spark, c, str(tmp_path / "ungated"), "2025-06-25",
                          FX.RUN_TS)
    assert stats["tables"]["travel_costs"] == 0
    assert stats["tables"]["personnel_costs"] == 3

    with pytest.raises(QualityGateViolation) as ex:
        run_daily_etl(spark, c, str(tmp_path / "gated"), "2025-06-25",
                      FX.RUN_TS, gate=QualityGate(min_rows=1))
    assert ex.value.table == "travel_costs"
    assert ex.value.violations == ["row count 0 below floor 1"]


def test_gate_failures_raise_the_first_table_in_order(spark, tmp_path):
    """Each table is gated and promoted on its own: with the travel and
    supplier boards both empty, the run raises travel's violation (the
    first failing table in the fixed order), the other three snapshots are
    promoted, and neither failing table gets a snapshot."""
    import os

    empty = {"data": {"boards": [{"items_page": {"cursor": None, "items": []}}]}}
    transport = MultiBoardTransport()
    transport.routes["travel-board"] = empty
    transport.routes["supplier-board"] = empty
    base = str(tmp_path)

    with pytest.raises(QualityGateViolation) as ex:
        run_daily_etl(spark, MondayConnector(transport), base, "2025-06-25",
                      FX.RUN_TS, gate=QualityGate(min_rows=1))
    assert ex.value.table == "travel_costs"
    for name, rows in (("projects", 3), ("project_subitems", 3),
                       ("personnel_costs", 3)):
        assert spark.read.parquet(os.path.join(base, name)).count() == rows
    for name in ("travel_costs", "supplier_costs"):
        assert not os.path.exists(os.path.join(base, name))


def test_loads_inherit_the_callers_job_group_and_tags(spark, tmp_path):
    """Every load job of an ungated run runs under the caller's job group
    and carries its job tag, though the loads run on worker threads; the
    wrapper is given the session, so PySpark does not warn that tags are
    lost."""
    import warnings

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group, tag = "daily-etl-attribution", "daily_etl_attribution"
    sc.setJobGroup(group, "daily run")
    spark.addTag(tag)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            run_daily_etl(spark, MondayConnector(MultiBoardTransport()),
                          str(tmp_path), "2025-06-25", FX.RUN_TS)
    finally:
        spark.removeTag(tag)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    jobs = sorted(tracker.getJobIdsForGroup(group))
    # 5 tables x (snapshot + historical write), then the day-over-day
    # compare, which starts only after every load has finished
    assert len(jobs) > 10
    store = sc._jsc.sc().statusStore()
    for jid in jobs[:10]:
        assert tag in store.job(jid).jobTags().mkString(","), jid


class PagedBoardTransport:
    """Serves each fixture board cloned to ``n_items`` items, ``per_page``
    a page, following the ``page{i}`` cursor the connector echoes back."""

    def __init__(self, n_items: int = 1000, per_page: int = 100):
        import copy
        import re

        self.cursor = re.compile(r'cursor: "page(\d+)"')
        self.pages = {}
        for board_id, resp in MultiBoardTransport().routes.items():
            template = resp["data"]["boards"][0]["items_page"]["items"]
            items = []
            for i in range(n_items):
                item = copy.deepcopy(template[i % len(template)])
                item["id"] = f"{item['id']}{i:04d}"
                for sub in item.get("subitems") or []:
                    sub["id"] = f"{sub['id']}{i:04d}"
                items.append(item)
            n_pages = -(-n_items // per_page)
            self.pages[board_id] = [
                {"data": {"boards": [{"items_page": {
                    "cursor": f"page{p + 1}" if p + 1 < n_pages else None,
                    "items": items[p * per_page:(p + 1) * per_page],
                }}]}}
                for p in range(n_pages)
            ]

    def __call__(self, query: str) -> dict:
        m = self.cursor.search(query)
        for board_id, pages in self.pages.items():
            if board_id in query:
                return pages[int(m.group(1)) if m else 0]
        raise AssertionError(f"unexpected query: {query[:100]}")


def test_multi_page_board_writes_one_file_per_target(spark, tmp_path):
    """A 1000-item board fetched as 10 pages is a few hundred KB of Arrow,
    one partition: ungated and gated, every snapshot and every historical
    day partition holds exactly one parquet file."""
    import glob
    import os

    transport = PagedBoardTransport()
    base = str(tmp_path)
    for gate in (None, QualityGate(min_rows=1)):
        stats = run_daily_etl(spark, MondayConnector(transport), base,
                              "2025-06-25", FX.RUN_TS, gate=gate)
        assert stats["tables"]["projects"] == 1000
        assert stats["tables"]["travel_costs"] == 1000
        for name in stats["tables"]:
            for target in (os.path.join(base, name),
                           os.path.join(base, f"{name}_historical",
                                        "extraction_date=2025-06-25")):
                assert len(glob.glob(os.path.join(target, "*.parquet"))) == 1, target
