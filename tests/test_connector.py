"""Connector behaviors: retry (O-2), pagination (O-3), probing (O-30),
page union (O-45). Offline via FixtureTransport."""

from __future__ import annotations

import copy

import pyarrow as pa
import pytest

from monday_etl_spark import fixtures as FX
from monday_etl_spark.normalize import (
    MONDAY_SCHEMA,
    extract_personnel_costs,
    extract_projects,
    extract_subitems,
    extract_supplier_costs,
    extract_travel_costs,
    items_df,
)
from monday_etl_spark.source_graphql import (
    FixtureTransport,
    GraphQLError,
    MondayConnector,
    RetryPolicy,
    fetch_board_items,
    pages_to_df,
)


def _page(items, cursor):
    return {"data": {"boards": [{"items_page": {"cursor": cursor, "items": items}}]}}


def _item(i):
    return {
        "id": str(i),
        "name": f"item{i}",
        "created_at": None,
        "updated_at": None,
        "column_values": [],
        "subitems": None,
    }


def test_retry_succeeds_after_failures():
    t = FixtureTransport(pages=[FX.PROJECTS_BOARD], fail_times=2)
    c = MondayConnector(t, RetryPolicy(max_retries=3))
    resp = c.call("query {}")
    assert resp is FX.PROJECTS_BOARD
    assert len(t.calls) == 3  # 2 failures + 1 success


def test_retry_exhausted_reraises():
    t = FixtureTransport(pages=[FX.PROJECTS_BOARD], fail_times=5)
    c = MondayConnector(t, RetryPolicy(max_retries=3))
    with pytest.raises(GraphQLError, match="after 3 attempts"):
        c.call("query {}")
    assert len(t.calls) == 3


def test_cursor_pagination_follows_until_null(spark):
    pages = [
        _page([_item(1), _item(2)], cursor="page1"),
        _page([_item(3)], cursor="page2"),
        _page([_item(4)], cursor=None),
    ]
    c = MondayConnector(FixtureTransport(pages=pages))
    df = fetch_board_items(spark, c, board_id="111")
    ids = sorted(r.id for r in df.select("id").collect())
    assert ids == ["1", "2", "3", "4"]


def test_pagination_stops_on_empty_page(spark):
    pages = [
        _page([_item(1)], cursor="page1"),
        _page([], cursor="page2"),  # empty page: stop even with a cursor
        _page([_item(9)], cursor=None),
    ]
    c = MondayConnector(FixtureTransport(pages=pages))
    df = fetch_board_items(spark, c, board_id="111")
    assert [r.id for r in df.collect()] == ["1"]


def test_dialect_probe_falls_back():
    calls = []

    def transport(q):
        calls.append(q)
        if "items_page" in q:
            raise GraphQLError("unsupported syntax")
        return _page([], None)

    c = MondayConnector(transport, RetryPolicy(max_retries=1))
    assert c.negotiate_dialect("111") == "items"


def test_pages_to_df_empty(spark):
    df = pages_to_df(spark, [])
    assert df.columns == ["id", "name", "created_at", "updated_at",
                          "column_values", "subitems"]
    assert df.count() == 0


def test_fixture_boards_parse(spark):
    for board in (FX.PROJECTS_BOARD, FX.PERSONNEL_BOARD, FX.TRAVEL_BOARD,
                  FX.SUPPLIER_BOARD):
        df = pages_to_df(spark, [copy.deepcopy(board)])
        assert df.count() >= 2


# -- the Arrow page converter keeps the row path's semantics -----------------

_EXTRACTORS = (extract_projects, extract_subitems, extract_personnel_costs,
               extract_travel_costs, extract_supplier_costs)


def _assert_same_outputs(spark, pages, extractors=_EXTRACTORS):
    """Every extract_* over the Arrow-built frame equals the same extract
    over a frame built the old way, from Python rows."""
    arrow_items = pages_to_df(spark, copy.deepcopy(pages))
    row_items = items_df(spark.createDataFrame(copy.deepcopy(pages),
                                               schema=MONDAY_SCHEMA))
    for extract in extractors:
        got = extract(arrow_items, FX.RUN_DATE, FX.RUN_TS)
        want = extract(row_items, FX.RUN_DATE, FX.RUN_TS)
        assert got.schema == want.schema, extract.__name__
        assert got.exceptAll(want).union(want.exceptAll(got)).count() == 0, \
            extract.__name__


@pytest.mark.parametrize("board, extractors", [
    (FX.PROJECTS_BOARD, (extract_projects, extract_subitems)),
    (FX.PERSONNEL_BOARD, (extract_personnel_costs,)),
    (FX.TRAVEL_BOARD, (extract_travel_costs,)),
    (FX.SUPPLIER_BOARD, (extract_supplier_costs,)),
], ids=["projects", "personnel", "travel", "supplier"])
def test_arrow_pages_match_row_path_on_fixtures(spark, board, extractors):
    _assert_same_outputs(spark, [board], extractors)


def _renumbered(item, offset):
    out = copy.deepcopy(item)
    out["id"] = str(int(item["id"]) + offset)
    for sub in out.get("subitems") or []:
        sub["id"] = str(int(sub["id"]) + offset)
    return out


def test_arrow_pages_match_row_path_multi_page(spark):
    """Three cursor pages: cloned dirty projects with subitems, plus cells
    whose ``column`` is null or missing and whose ``value`` is null."""
    items = FX.PROJECTS_BOARD["data"]["boards"][0]["items_page"]["items"]
    sparse = {
        "id": "900", "name": None, "created_at": None, "updated_at": None,
        "column_values": [
            {"id": "person", "text": "Dana", "value": None, "column": None},
            {"id": "numbers", "text": "12.5", "value": None},
            {"id": "date4", "text": None, "value": None, "column": None},
        ],
        "subitems": [{
            "id": "901", "name": "SubN", "created_at": None, "updated_at": None,
            "column_values": [
                {"id": "numbers", "text": "7", "value": None, "column": None},
                {"id": "status", "text": "Open", "value": None,
                 "column": {"id": "status", "title": None, "type": "status"}},
            ],
        }, {
            "id": "902", "name": "SubM", "created_at": None, "updated_at": None,
            "column_values": None,
        }],
    }
    pages = [
        _page([_renumbered(i, 0) for i in items], cursor="c1"),
        _page([_renumbered(i, 1000) for i in items] + [sparse], cursor="c2"),
        _page([_renumbered(i, 2000) for i in items], cursor=None),
    ]
    _assert_same_outputs(spark, pages)


def test_arrow_pages_reject_wrong_typed_field(spark):
    """A wrong-typed value fails the conversion instead of reading as null.
    An int id raises here, where a row-built frame would stringify it; a
    string where a list belongs raises on both."""
    int_id = copy.deepcopy(FX.PROJECTS_BOARD)
    int_id["data"]["boards"][0]["items_page"]["items"][0]["id"] = 101
    with pytest.raises(pa.ArrowTypeError):
        pages_to_df(spark, [int_id])

    str_cells = copy.deepcopy(FX.PROJECTS_BOARD)
    str_cells["data"]["boards"][0]["items_page"]["items"][0]["column_values"] = "x"
    with pytest.raises(TypeError):
        spark.createDataFrame([str_cells], schema=MONDAY_SCHEMA)
    with pytest.raises(pa.ArrowException):
        pages_to_df(spark, [str_cells])
