"""The normalize expression compiler emits Spark SQL text: keys and run
stamps are checked before they are quoted into it, and building an
extractor's plan costs a bounded number of py4j commands."""

from __future__ import annotations

import threading
from unittest import mock

import pytest
from py4j.clientserver import ClientServerConnection

from monday_etl_spark import fixtures as FX
from monday_etl_spark import normalize as N

EXTRACTORS = {
    "extract_projects": FX.PROJECTS_BOARD,
    "extract_subitems": FX.PROJECTS_BOARD,
    "extract_personnel_costs": FX.PERSONNEL_BOARD,
    "extract_travel_costs": FX.TRAVEL_BOARD,
    "extract_supplier_costs": FX.SUPPLIER_BOARD,
}


@pytest.mark.parametrize("key", ["status' OR 'x' = 'x", "a b", "numbers)", ""])
def test_key_outside_the_identifier_charset_is_refused(key):
    with pytest.raises(ValueError, match="column key"):
        N.last_text("column_values", key)
    with pytest.raises(ValueError, match="column key"):
        N.timeline_pair("s.column_values", key)


@pytest.mark.parametrize("run_date, run_ts", [
    ("2025-06-25' AS x, '1", FX.RUN_TS),
    (FX.RUN_DATE, "2025-06-25 09:00:00\\'"),
])
def test_run_stamp_with_a_quote_is_refused(spark, run_date, run_ts):
    items = N.items_df(N.board_df(spark, FX.PROJECTS_BOARD))
    with pytest.raises(ValueError, match="run date/timestamp"):
        N.extract_projects(items, run_date, run_ts)


@pytest.mark.parametrize("name", sorted(EXTRACTORS))
def test_extractor_plan_builds_in_few_py4j_commands(spark, name):
    """Each extractor hands its fields to one selectExpr: at most 100 py4j
    commands on the fixture boards (the Column-API form issued 866-1,608)."""
    items = N.items_df(N.board_df(spark, EXTRACTORS[name]))
    send = ClientServerConnection.send_command
    me = threading.get_ident()
    calls = []

    def counting(self, command, *args, **kwargs):
        # py4j's finalizer thread sends its object releases concurrently
        if threading.get_ident() == me:
            calls.append(command)
        return send(self, command, *args, **kwargs)

    with mock.patch.object(ClientServerConnection, "send_command", counting):
        getattr(N, name)(items, FX.RUN_DATE, FX.RUN_TS)
    assert len(calls) <= 100, len(calls)
