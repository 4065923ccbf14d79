"""Monday-style GraphQL source connector (offline-first).

Reproduces the reference's extraction behaviors as a reusable, injectable
connector (SURVEY.md §2.1):
- O-1  API scan: POST a GraphQL query, get a nested JSON document back
       (monday_etl_automated.py:172-194);
- O-2  retry-with-backoff: 3 attempts, re-raise on last (:180-194);
- O-3  cursor pagination: loop ``items_page(limit, cursor)`` until the cursor
       is null or a page is empty (etl_quick_fix.py:50-151);
- O-4  board multiplexing: one logical source per board id (:28-33);
- O-30 probing scan: try query dialects in order, first that answers wins
       (etl_fix.py:52-154).

Transports are injected so tests never touch the network by default.
``HttpTransport`` is the live seam (stdlib urllib, no extra dependency);
no credentials or production endpoints ship in this repo — tests drive it
against a loopback mock server (tests/test_http_transport.py), which proves
retry and pagination over a real socket while staying offline-safe.

Scale note: extraction is driver-side here because a Monday board is small
(hundreds of items). The fetched pages become one ``pyarrow.Table`` that
Spark holds as a local relation: converting the nested JSON happens once, and
every later scan of the day's board (the daily run scans each board several
times) decodes Arrow rather than unpickling Python rows. ``run_daily_etl``
fetches its boards one after another on the calling thread, because a
transport is not assumed thread-safe, and only then loads the five tables
concurrently. The 100 TB path is
the documented upgrade: implement ``pyspark.sql.datasource.DataSource``
(Spark 4 Python Data Source API) whose reader emits one InputPartition per
(board, cursor-range) so executors fetch pages in parallel; everything
downstream of ``pages_to_df`` is unchanged.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .normalize import items_df, responses_df

Transport = Callable[[str], dict]
"""A transport takes a GraphQL query string and returns the decoded JSON."""


class GraphQLError(RuntimeError):
    pass


@dataclass
class RetryPolicy:
    """O-2: mirror of the reference's loop — ``max_retries`` attempts,
    sleep between, re-raise the last failure (:180-194)."""

    max_retries: int = 3
    backoff_seconds: float = 0.0  # reference sleeps 5s; tests use 0
    sleep: Callable[[float], None] = time.sleep


@dataclass
class FixtureTransport:
    """Offline transport: serves canned responses, optionally failing the
    first ``fail_times`` calls (to exercise the retry path)."""

    pages: list[dict]
    fail_times: int = 0
    calls: list[str] = field(default_factory=list)

    def __call__(self, query: str) -> dict:
        self.calls.append(query)
        if len(self.calls) <= self.fail_times:
            raise GraphQLError(f"simulated failure #{len(self.calls)}")
        # page selection by cursor token embedded in the query
        for i, page in enumerate(self.pages):
            token = f'cursor: "page{i}"'
            if token in query:
                return page
        return self.pages[0]


@dataclass
class HttpTransport:
    """Live HTTP transport (O-1; ref monday_etl_automated.py:172-194 posts
    JSON with an auth header): POSTs ``{"query": ...}`` to a GraphQL
    endpoint and decodes the JSON reply. stdlib urllib only. A non-2xx
    status or a GraphQL ``errors`` payload raises ``GraphQLError`` so the
    connector's RetryPolicy treats both exactly like the reference treats
    request failures."""

    endpoint: str
    api_token: str = ""
    timeout_seconds: float = 30.0

    def __call__(self, query: str) -> dict:
        import json
        import urllib.error
        import urllib.request

        headers = {"Content-Type": "application/json"}
        if self.api_token:
            headers["Authorization"] = self.api_token
        req = urllib.request.Request(
            self.endpoint,
            data=json.dumps({"query": query}).encode("utf-8"),
            headers=headers,
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_seconds) as resp:
                body = resp.read()
        except urllib.error.HTTPError as ex:
            raise GraphQLError(f"HTTP {ex.code} from {self.endpoint}") from ex
        except urllib.error.URLError as ex:
            raise GraphQLError(f"connection failed: {ex.reason}") from ex
        out = json.loads(body)
        if "errors" in out:
            raise GraphQLError(str(out["errors"]))
        return out


ITEMS_PAGE_QUERY = """
query {{
    boards(ids: [{board_id}]) {{
        items_page(limit: {limit}{cursor_arg}) {{
            cursor
            items {{
                id name created_at updated_at
                column_values {{ id text value }}
                subitems {{
                    id name created_at updated_at
                    column_values {{ id text value column {{ id title type }} }}
                }}
            }}
        }}
    }}
}}
"""

# O-30: dialect ladder, most- to least-capable (etl_fix.py:52-154 tries 4
# syntaxes; we keep the two that survive in the reference's production code)
DIALECTS = ("items_page", "items")


class MondayConnector:
    def __init__(self, transport: Transport, retry: RetryPolicy | None = None):
        self.transport = transport
        self.retry = retry or RetryPolicy()

    # -- O-2 ---------------------------------------------------------------
    def call(self, query: str) -> dict:
        last: Exception | None = None
        for attempt in range(self.retry.max_retries):
            try:
                return self.transport(query)
            except Exception as ex:  # noqa: BLE001 — reference catches all
                last = ex
                if attempt < self.retry.max_retries - 1 and self.retry.backoff_seconds:
                    self.retry.sleep(self.retry.backoff_seconds)
        raise GraphQLError(f"GraphQL call failed after {self.retry.max_retries} attempts") from last

    # -- O-30 --------------------------------------------------------------
    def negotiate_dialect(self, board_id: str) -> str:
        """Probe dialects in order; first that answers without error wins."""
        for dialect in DIALECTS:
            try:
                self.call(self._page_query(board_id, dialect=dialect))
                return dialect
            except GraphQLError:
                continue
        raise GraphQLError("no GraphQL dialect accepted by the endpoint")

    def _page_query(self, board_id: str, cursor: str | None = None,
                    limit: int = 100, dialect: str = "items_page") -> str:
        cursor_arg = f', cursor: "{cursor}"' if cursor else ""
        q = ITEMS_PAGE_QUERY.format(board_id=board_id, limit=limit, cursor_arg=cursor_arg)
        if dialect == "items":
            q = q.replace("items_page(limit: %d%s) {" % (limit, cursor_arg), "items {")
        return q

    # -- O-3 ---------------------------------------------------------------
    def fetch_pages(self, board_id: str, limit: int = 100) -> Iterator[dict]:
        """Follow the cursor until null/empty page (etl_quick_fix.py:133-151)."""
        cursor: str | None = None
        while True:
            resp = self.call(self._page_query(board_id, cursor=cursor, limit=limit))
            page = resp["data"]["boards"][0]["items_page"]
            items = page.get("items") or []
            if items:
                yield resp
            cursor = page.get("cursor")
            if not cursor or not items:
                return


def pages_to_df(spark: SparkSession, pages: list[dict]) -> DataFrame:
    """O-45 page union: all pages → one Arrow table → item rows.

    Batched through a single ``responses_df`` (one row per page) rather
    than a per-page union loop — the explode in ``items_df`` flattens pages
    and items alike, and Spark sees one scan, not N unions. The scan is an
    Arrow-built ``LocalRelation``, so each of the daily run's re-scans (two
    writes per table, two tables from the project board) decodes Arrow
    instead of unpickling every nested page again. Its partitions follow
    the pages' Arrow bytes (``maxPartitionBytes`` each), so a board of a
    few MB is one partition and one written file per target. No pages
    give an empty frame that still has the item columns.
    """
    return items_df(responses_df(spark, pages))


def fetch_board_items(spark: SparkSession, connector: MondayConnector,
                      board_id: str, limit: int = 100) -> DataFrame:
    """O-4: one logical source per board id → flat item rows."""
    return pages_to_df(spark, list(connector.fetch_pages(board_id, limit=limit)))
