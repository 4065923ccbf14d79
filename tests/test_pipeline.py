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
