"""Seeded input generators. Every generator is a pure function of its seed
(and scale), and records the expected counts the output checks use.

* ``write_sf_tables``: the ten TPC-H-ish tables the registry queries read
  (schemas as declared in ``monday_etl_spark.catalog.SF_TABLE_DDL``).
* ``MondayBoards``: Monday-shaped GraphQL boards built from the dirty-cell
  templates in ``monday_etl_spark.fixtures``, evolving day over day (measures
  change, items come and go), served page by page with cursors.
* ``UpsertBatches``: bulk and point-fix upsert batches drawn from ``orders``.
"""

from __future__ import annotations

import copy
import datetime as dt
import json
import os
import re
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from monday_etl_spark import fixtures as fx

# --------------------------------------------------------------------------
# sf tables
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column data fast filter group hash key line merge order "
    "part query row scan slow small sort spark stream table value vector "
    "window join index shard cache plan node page file log"
).split()
_EPOCH = dt.datetime(1970, 1, 1)


def _us(day0: dt.datetime, offsets_s: np.ndarray) -> pa.Array:
    base = int((day0 - _EPOCH).total_seconds() * 1_000_000)
    return pa.array(base + (offsets_s * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            k = int(rng.integers(8, 80))
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)]
        texts.append(" ".join(words))
    return texts


def sf_tables(seed: int, sf: float, names=None) -> dict[str, pa.Table]:
    """The sf tables at scale ``sf`` (sf0.1 = 150k orders, 600k lineitems),
    as Arrow tables with the testdata's physical types. ``names`` limits
    which are built; each table has its own random stream, so a table does
    not depend on which others are built."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    def region(rng):
        return {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}

    def nation(rng):
        return {"n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}

    def customer(rng):
        return {"c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust))}

    def supplier(rng):
        return {"s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}

    def part(rng):
        names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
        return {"p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": pa.array(rng.choice(names, n_part)),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": pa.array(rng.choice(_PTYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)}

    def orders(rng):
        return {"o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _us(dt.datetime(1995, 1, 1),
                                   rng.integers(0, 2404, n_ord) * 86400),
                "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord))}

    def lineitem(rng):
        return {"l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
                "l_shipdate": _us(dt.datetime(1995, 1, 2),
                                  rng.integers(0, 2498, n_li) * 86400)}

    def events(rng):
        return {"event_id": pa.array(np.arange(n_ev), i64),
                "ts": _us(dt.datetime(2024, 1, 1),
                          np.sort(rng.uniform(0, 30 * 86400, n_ev))),
                "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
                "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
                "value": _money(rng, 0, 560, n_ev),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}

    def documents(rng):
        texts = _doc_texts(rng, n_doc)
        return {"doc_id": pa.array(np.arange(n_doc), i64),
                "text": texts,
                "lang": pa.array(rng.choice(_LANGS, n_doc)),
                "source": [f"src{i % 20}" for i in range(n_doc)],
                "n_chars": pa.array([len(x) for x in texts], i64)}

    def embeddings(rng):
        labels = rng.integers(0, 10, n_emb)
        centers = rng.normal(0, 0.15, (10, 64))
        vecs = (centers[labels] + rng.normal(0, 0.05, (n_emb, 64))).astype(np.float32)
        return {"vec_id": pa.array(np.arange(n_emb), i64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, i32)}

    builders = (region, nation, customer, supplier, part, orders, lineitem,
                events, documents, embeddings)
    return {b.__name__: pa.table(b(np.random.default_rng([seed, 1, i])))
            for i, b in enumerate(builders) if names is None or b.__name__ in names}


def write_sf_tables(out_dir: str, seed: int, sf: float, names=None) -> None:
    """Write the sf tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in sf_tables(seed, sf, names).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# Monday boards
# --------------------------------------------------------------------------

def _items(board: dict) -> list[dict]:
    return board["data"]["boards"][0]["items_page"]["items"]


def _is_number(text) -> bool:
    try:
        float(text)
    except (TypeError, ValueError):
        return False
    return True


def expected_revenue(sub: dict) -> Decimal:
    """``normalize.last_number`` over ``numbers``-typed cells: the last
    non-empty cell whose text parses wins; 0 when none does."""
    out = Decimal(0)
    for c in sub["column_values"]:
        col = c.get("column") or {}
        if col.get("type") == "numbers" and c["text"] and _is_number(c["text"]):
            out = Decimal(c["text"])
    return out


class MondayBoards:
    """Four boards (projects with subitems, personnel, travel, supplier)
    cloned from the ``fixtures`` dirty-cell templates. ``advance()`` moves to
    the next day: ~3% of projects close, ~3% open, ~10% of subitems change
    their revenue, one item per cost board is replaced. These churn rates
    are assumptions, not measurements: the reference keeps no day-over-day
    log to derive them from. They are set so that history grows and the
    day-over-day diff is never empty. ``page(board, offset, limit)`` serves
    the current day one cursor page at a time."""

    PROJECT_BOARD, PERSONNEL, TRAVEL, SUPPLIER = (
        "projects-board", "personnel-board", "travel-board", "supplier-board")

    def __init__(self, seed: int, n_projects: int, n_costs: int):
        self.rng = np.random.default_rng([seed, 2])
        self.next_id = 1_000_000
        self._proj_tpl = [{k: v for k, v in it.items() if k != "subitems"}
                          for it in _items(fx.PROJECTS_BOARD)]
        self._sub_tpl = [s for it in _items(fx.PROJECTS_BOARD)
                         for s in (it["subitems"] or [])]
        self._cost_tpl = {
            self.PERSONNEL: _items(fx.PERSONNEL_BOARD),
            self.TRAVEL: _items(fx.TRAVEL_BOARD),
            self.SUPPLIER: _items(fx.SUPPLIER_BOARD),
        }
        self.projects = [self._project() for _ in range(n_projects)]
        self.costs = {b: [self._cost(b) for _ in range(n_costs)]
                      for b in self._cost_tpl}
        self.day = 0

    def _id(self) -> str:
        self.next_id += 1
        return str(self.next_id)

    def _amount(self) -> str:
        return f"{self.rng.integers(0, 500_000) / 100:.2f}"

    def _reprice(self, cells: list[dict]) -> None:
        for c in cells:
            if c["text"] and _is_number(c["text"]):
                c["text"] = self._amount()

    def _subitem(self) -> dict:
        tpl = self._sub_tpl[int(self.rng.integers(0, len(self._sub_tpl)))]
        sub = copy.deepcopy(tpl)
        sub["id"] = self._id()
        sub["name"] = f"Sub {sub['id']}"
        self._reprice(sub["column_values"])
        return sub

    def _project(self) -> dict:
        tpl = self._proj_tpl[int(self.rng.integers(0, len(self._proj_tpl)))]
        item = copy.deepcopy(tpl)
        item["id"] = self._id()
        item["name"] = f"Project {item['id']}"
        n_sub = int(self.rng.integers(0, 17))
        item["subitems"] = [self._subitem() for _ in range(n_sub)] or None
        return item

    def _cost(self, board: str) -> dict:
        tpls = self._cost_tpl[board]
        item = copy.deepcopy(tpls[int(self.rng.integers(0, len(tpls)))])
        item["id"] = self._id()
        item["name"] = f"Cost {item['id']}"
        self._reprice(item["column_values"])
        return item

    def advance(self) -> None:
        n = len(self.projects)
        k = max(1, n * 3 // 100)
        drop = set(self.rng.choice(n, k, replace=False).tolist())
        self.projects = [p for i, p in enumerate(self.projects) if i not in drop]
        self.projects += [self._project() for _ in range(k)]
        for p in self.projects:
            for s in p["subitems"] or []:
                if self.rng.random() < 0.1:
                    self._reprice(s["column_values"])
        for b, items in self.costs.items():
            i = int(self.rng.integers(0, len(items)))
            items[i] = self._cost(b)
        self.day += 1

    def boards(self) -> tuple[str, ...]:
        return (self.PROJECT_BOARD, *self.costs)

    def subitems(self) -> list[dict]:
        return [s for p in self.projects for s in p["subitems"] or []]

    def expected(self) -> dict:
        """Per-table row counts and the subitem revenue total for today."""
        subs = self.subitems()
        return {
            "tables": {
                "projects": len(self.projects),
                "project_subitems": len(subs),
                "personnel_costs": len(self.costs[self.PERSONNEL]),
                "travel_costs": len(self.costs[self.TRAVEL]),
                "supplier_costs": len(self.costs[self.SUPPLIER]),
            },
            "revenue": sum((expected_revenue(s) for s in subs), Decimal(0)),
        }

    def page(self, board: str, offset: int, limit: int) -> dict:
        """Today's items ``[offset, offset + limit)`` of ``board`` as one
        ``items_page`` response; its cursor is the next offset, or null on
        the last page."""
        items = self.projects if board == self.PROJECT_BOARD else self.costs[board]
        more = offset + limit < len(items)
        return {"data": {"boards": [{"items_page": {
            "cursor": str(offset + limit) if more else None,
            "items": items[offset:offset + limit],
        }}]}}


_BOARD_RE = re.compile(r"ids: \[([^\]]+)\]")
_LIMIT_RE = re.compile(r"limit: (\d+)")
_CURSOR_RE = re.compile(r'cursor: "(\d+)"')


class BoardTransport:
    """Benchmark-side GraphQL transport over ``MondayBoards``: answers the
    connector's ``items_page`` queries by board id, ``limit`` and cursor,
    with pages of the size the query asks for. It fails a seeded share of
    calls, never two in a row, so the connector's 3-attempt retry always
    recovers. Counts calls, pages served and failures, and keeps the
    distinct pages served since ``refresh()``."""

    def __init__(self, boards: MondayBoards, seed: int, fail_rate: float):
        self.boards = boards
        self.rng = np.random.default_rng([seed, 3])
        self.fail_rate = fail_rate
        self.served: dict[str, dict[tuple[int, int], dict]] = {}
        self._last_failed = False
        self.calls = self.pages_served = self.failures = 0

    def refresh(self) -> None:
        """Start serving the boards' current day."""
        self.served = {b: {} for b in self.boards.boards()}

    def __call__(self, query: str) -> dict:
        from monday_etl_spark.source_graphql import GraphQLError

        self.calls += 1
        if not self._last_failed and self.rng.random() < self.fail_rate:
            self._last_failed = True
            self.failures += 1
            raise GraphQLError("injected transport failure")
        self._last_failed = False
        board = _BOARD_RE.search(query).group(1)
        m = _CURSOR_RE.search(query)
        key = (int(m.group(1)) if m else 0, int(_LIMIT_RE.search(query).group(1)))
        pages = self.served[board]
        if key not in pages:
            pages[key] = self.boards.page(board, *key)
        self.pages_served += 1
        return pages[key]

    def day_pages(self, board: str) -> list[dict]:
        """The distinct pages of ``board`` served today, in cursor order."""
        return [p for _, p in sorted(self.served[board].items())]

    def json_bytes(self) -> int:
        """Bytes, as JSON, of the distinct pages served today: the ETL's
        input size."""
        return sum(len(json.dumps(p)) for pages in self.served.values()
                   for p in pages.values())


# --------------------------------------------------------------------------
# lakehouse upsert batches
# --------------------------------------------------------------------------

class UpsertBatches:
    """Day-by-day upsert batches over ``orders``: a bulk batch (re-priced
    ~2% of live keys plus ~0.5% new keys) and a point fix (5 re-priced
    keys). Tracks the expected live row count."""

    def __init__(self, orders: pa.Table, seed: int):
        self.rng = np.random.default_rng([seed, 4])
        self.schema = orders.schema
        self.base = orders
        self.n_rows = orders.num_rows
        self.next_key = self.n_rows

    def _rows(self, keys: np.ndarray, new_keys: np.ndarray) -> pa.Table:
        upd = self.base.take(pa.array(keys % self.base.num_rows))
        upd = upd.set_column(0, "o_orderkey", pa.array(keys, pa.int64()))
        ins = self.base.take(pa.array(self.rng.integers(0, self.base.num_rows,
                                                        len(new_keys))))
        ins = ins.set_column(0, "o_orderkey", pa.array(new_keys, pa.int64()))
        out = pa.concat_tables([upd, ins])
        i = out.schema.get_field_index("o_totalprice")
        prices = np.round(self.rng.uniform(1000, 500_000, out.num_rows), 2)
        return out.set_column(i, "o_totalprice", pa.array(prices))

    def bulk(self) -> pa.Table:
        n_upd = max(1, self.n_rows // 50)
        n_new = max(1, self.n_rows // 200)
        keys = self.rng.choice(self.next_key, n_upd, replace=False)
        new = np.arange(self.next_key, self.next_key + n_new)
        self.next_key += n_new
        self.n_rows += n_new
        return self._rows(keys, new)

    def point(self) -> pa.Table:
        keys = self.rng.choice(self.next_key, 5, replace=False)
        return self._rows(keys, np.arange(0))
