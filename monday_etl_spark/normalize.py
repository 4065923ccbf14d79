"""Ingestion/normalization layer: nested GraphQL documents → flat tables.

Re-expresses the reference's imperative transform loops
(monday_etl_automated.py:235-560) as pure Catalyst expressions — zero Python
UDFs, so the whole flatten+map+cast pipeline stays inside whole-stage codegen
and scales linearly with executors (each item row is independent; no shuffle
anywhere in this layer).

The expression compiler emits Spark SQL text, not Column objects: every
helper (``last_text``, ``last_number``, ``timeline_pair``, ``link_id``, ...)
returns a string, and an extractor passes all its fields to one
``selectExpr``. Building a Column tree from Python costs a py4j round trip
per node (about 1,200 per extractor); the text costs a few dozen, and Spark
parses it into the same expressions. Column keys are checked against
``[A-Za-z0-9_]+`` and run stamps against a date/time charset before they are
quoted into the text, so neither can escape its literal.

Reference semantics reproduced exactly (SURVEY.md §2.2, O-5..O-11, F-1..F-5):
- cells with empty/missing ``text`` are skipped entirely (:259-261);
- value cells (text/number/date/timeline/link): LAST cell wins, but a cell
  whose parse fails keeps the previous value — i.e. last *successful* parse
  wins, with default null (or 0.0 for numbers) (:264-267, :305-309);
- subitem ``status``: FIRST non-empty cell wins (``if not ...status``,
  :320-322);
- timeline: the cell must split into exactly 2 parts; start is assigned
  before end parses, so 'valid-start - garbage' updates start and keeps the
  previous end — partial assignment, NOT atomic (:313-319);
- linked ids come from ``value`` JSON ``linkedPulseIds[0].linkedPulseId``
  with silent null on malformed/empty JSON (:386-395).

Documented divergence: Python ``strptime('%Y-%m-%d')`` accepts non-padded
dates ('2025-1-1'); Spark's strict formatter does not. Monday emits padded
dates, so this is unreachable in practice.
"""

from __future__ import annotations

import math
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .functions import sql_parse_iso_timestamp

# ---------------------------------------------------------------------------
# Raw response schema (FIXTURES.md §B; query shape monday_etl_automated.py:
# 200-232 and paginated variant etl_quick_fix.py:96-131)
# ---------------------------------------------------------------------------

_COLUMN_META = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("type", T.StringType()),
    ]
)

_CELL = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("column", _COLUMN_META),
    ]
)

_SUBITEM = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("created_at", T.StringType()),
        T.StructField("updated_at", T.StringType()),
        T.StructField("column_values", T.ArrayType(_CELL)),
    ]
)

_ITEM = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("created_at", T.StringType()),
        T.StructField("updated_at", T.StringType()),
        T.StructField("column_values", T.ArrayType(_CELL)),
        T.StructField("subitems", T.ArrayType(_SUBITEM)),
    ]
)

MONDAY_SCHEMA = T.StructType(
    [
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField(
                        "boards",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField(
                                        "items_page",
                                        T.StructType(
                                            [
                                                T.StructField("cursor", T.StringType()),
                                                T.StructField("items", T.ArrayType(_ITEM)),
                                            ]
                                        ),
                                    )
                                ]
                            )
                        ),
                    )
                ]
            ),
        )
    ]
)


_MONDAY_ARROW = to_arrow_schema(MONDAY_SCHEMA)


def responses_df(spark: SparkSession, responses: list[dict]) -> DataFrame:
    """GraphQL responses (dicts) → one nested row each, via one Arrow table.

    The dicts are converted once, in Python, and the plan is a
    ``LocalRelation``: each re-scan decodes Arrow instead of unpickling
    Python rows. A wrong-typed value (an int where the schema says string)
    raises ``ArrowTypeError`` rather than being coerced, and an empty list
    gives an empty frame with the full nested schema. Independent of
    ``spark.sql.execution.arrow.pyspark.enabled``.

    The frame is sized by bytes, not by cores: it is coalesced to
    ``ceil(table.nbytes / spark.sql.files.maxPartitionBytes)`` partitions
    (at least one), about the split a file scan of the same bytes would
    get. A board of a few MB is one partition, so each table loaded from
    it is written as one file per target rather than one per core.
    """
    table = pa.Table.from_pylist(responses, schema=_MONDAY_ARROW)
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    n_parts = max(1, math.ceil(table.nbytes / split))
    return spark.createDataFrame(table, schema=MONDAY_SCHEMA).coalesce(n_parts)


def board_df(spark: SparkSession, response: dict) -> DataFrame:
    """One GraphQL response (dict) → a 1-row nested DataFrame (Arrow-built,
    see ``responses_df``)."""
    from .session import ensure_session_confs

    ensure_session_confs(spark)
    return responses_df(spark, [response])


def items_df(raw: DataFrame) -> DataFrame:
    """O-5 nested-array flatten: boards[] → items_page.items[] → one row per
    item (ref: ``data['data']['boards'][0]['items']`` loop, :238)."""
    return raw.select(
        F.explode("data.boards").alias("board")
    ).select(F.explode("board.items_page.items").alias("item")).select("item.*")


# ---------------------------------------------------------------------------
# Cell-selection expression compiler (the declarative replacement for the
# reference's if/elif dispatch tables — SURVEY §2.9 "extractor registry");
# every helper returns Spark SQL text, see the module docstring
# ---------------------------------------------------------------------------

_DATE_FMT = "yyyy-MM-dd"
_KEY = re.compile(r"[A-Za-z0-9_]+")
# what Spark's string → date/timestamp casts can accept (digits, zone names,
# separators); no quote or backslash, so the value cannot leave its literal
_STAMP = re.compile(r"[A-Za-z0-9_/:.+\- ]*")


def _key(key: str) -> str:
    """A column id or type, checked before it is quoted into SQL."""
    if not _KEY.fullmatch(key):
        raise ValueError(f"column key {key!r} must match [A-Za-z0-9_]+")
    return key


def _cells(cv: str, key: str, by_type: bool) -> str:
    """Cells matching the column id (O-7) or column type (O-8), with the
    non-empty-text guard (O-10) applied."""
    tag = "c.column.type" if by_type else "c.id"
    return (f"filter({cv}, c -> {tag} = '{_key(key)}' "
            "AND c.text IS NOT NULL AND c.text != '')")


def last_text(cv: str, key: str, by_type: bool = False) -> str:
    """Last non-empty text cell wins (reference loop overwrite order)."""
    return f"element_at({_cells(cv, key, by_type)}, -1).text"


def first_text(cv: str, key: str, by_type: bool = False) -> str:
    """O-9 first-match-wins (subitem status, :320-322). element_at preserves
    array order, so this is exactly the reference's 'only set if unset'."""
    return f"element_at({_cells(cv, key, by_type)}, 1).text"


def last_number(cv: str, key: str, by_type: bool = False) -> str:
    """F-1: last cell whose text casts to double; failed casts keep the
    previous value; default 0.0 (non-ANSI cast-to-null + coalesce)."""
    ok = f"filter({_cells(cv, key, by_type)}, c -> CAST(c.text AS DOUBLE) IS NOT NULL)"
    return f"coalesce(CAST(element_at({ok}, -1).text AS DOUBLE), 0.0D)"


def _to_date(text: str) -> str:
    return f"to_date({text}, '{_DATE_FMT}')"


def last_date(cv: str, key: str, by_type: bool = False) -> str:
    """F-2: last cell whose text parses as yyyy-MM-dd; null default."""
    ok = f"filter({_cells(cv, key, by_type)}, c -> {_to_date('c.text')} IS NOT NULL)"
    return _to_date(f"element_at({ok}, -1).text")


def timeline_pair(cv: str, key: str = "timeline", by_type: bool = True
                  ) -> tuple[str, str]:
    """F-4: 'start - end' destructure (ref :313-319). The reference guards
    on exactly 2 split parts, then assigns start BEFORE parsing end inside
    one try block — so a 'valid-start - garbage' cell updates start while
    keeping the previous end (partial assignment, replicated here: the two
    halves filter independently). 1-part and 3+-part cells are skipped
    entirely by the len==2 guard."""

    def part(text: str, i: int) -> str:
        return _to_date(f"element_at(split({text}, ' - '), {i})")

    start_ok = f"size(split(c.text, ' - ')) = 2 AND {part('c.text', 1)} IS NOT NULL"
    end_ok = f"{start_ok} AND {part('c.text', 2)} IS NOT NULL"
    cells = _cells(cv, key, by_type)
    start = part(f"element_at(filter({cells}, c -> {start_ok}), -1).text", 1)
    end = part(f"element_at(filter({cells}, c -> {end_ok}), -1).text", 2)
    return start, end


_LINK_PATH = "'$.linkedPulseIds[0].linkedPulseId'"


def link_name(cv: str, key: str) -> str:
    """O-20 companion: display text of the last non-empty link cell."""
    return last_text(cv, key)


def link_id(cv: str, key: str) -> str:
    """F-5: linked entity id from the value JSON of the last non-empty link
    cell whose JSON yields an id (malformed/{}/empty-list → null, :390-395)."""
    ok = (f"filter({_cells(cv, key, False)}, "
          f"c -> get_json_object(c.value, {_LINK_PATH}) IS NOT NULL)")
    return f"get_json_object(element_at({ok}, -1).value, {_LINK_PATH})"


def _stamp(value: str) -> str:
    """A run date/timestamp as a SQL string literal. Spark still casts it
    exactly as a ``lit(value).cast(...)`` would; the check only rejects
    characters no date or timestamp string contains."""
    if not _STAMP.fullmatch(value):
        raise ValueError(f"run date/timestamp {value!r} has characters outside "
                         "[A-Za-z0-9_/:.+- ]")
    return f"'{value}'"


def lineage(run_date: str, run_ts: str) -> list[str]:
    """O-11 lineage stamps, injected as literals for deterministic re-runs
    (ref: self.extraction_date/timestamp, :52-53, :241-242)."""
    return [
        f"CAST({_stamp(run_date)} AS DATE) AS extraction_date",
        f"CAST({_stamp(run_ts)} AS TIMESTAMP) AS extraction_timestamp",
    ]


def _timestamps(prefix: str = "") -> list[str]:
    """F-3 created/updated stamps of an item (or of ``prefix`` subitems)."""
    return [f"{sql_parse_iso_timestamp(prefix + c)} AS {c}"
            for c in ("created_at", "updated_at")]


def _fields(**exprs: str) -> list[str]:
    """``alias=sql`` pairs as ``sql AS `alias``` select items."""
    return [f"{sql} AS `{alias}`" for alias, sql in exprs.items()]


# ---------------------------------------------------------------------------
# Table extractors (target schemas: monday_etl_automated.py:68-146)
# ---------------------------------------------------------------------------


def extract_projects(items: DataFrame, run_date: str, run_ts: str) -> DataFrame:
    """EAV→wide by column id (O-7; dispatch table :257-277)."""
    cv = "column_values"
    return items.selectExpr(
        *lineage(run_date, run_ts),
        *_fields(
            project_id="id",
            project_name="name",
            po=last_text(cv, "person"),
            data_avvio=last_date(cv, "date4"),
            var_non_var=last_text(cv, "status__1"),
            circolo=last_text(cv, "status_1"),
            tipologia=last_text(cv, "status0"),
            stato_pipeline=last_text(cv, "status1"),
            aperto_chiuso=last_text(cv, "status6"),
        ),
        *_timestamps(),
    )


def extract_subitems(items: DataFrame, run_date: str, run_ts: str) -> DataFrame:
    """O-6 child-array flatten with inherited parent FK (join-free
    denormalization, O-19 :288) + EAV→wide by column *type* (O-8 :300-322)."""
    s = items.selectExpr("id AS project_id", "explode(subitems) AS s")
    cv = "s.column_values"
    start, end = timeline_pair(cv)
    return s.selectExpr(
        *lineage(run_date, run_ts),
        *_fields(
            subitem_id="s.id",
            project_id="project_id",
            subitem_name="s.name",
            po=last_text(cv, "person", by_type=True),
            timeline_start=start,
            timeline_end=end,
            revenue_amount=last_number(cv, "numbers", by_type=True),
            status=first_text(cv, "status", by_type=True),
            # declared in the target schema but never mapped by the reference
            tipologia="CAST(NULL AS STRING)",
        ),
        *_timestamps("s."),
    )


def extract_personnel_costs(items: DataFrame, run_date: str, run_ts: str) -> DataFrame:
    """Personnel-cost mapping (:335-402): person, amount, board_relation1."""
    cv = "column_values"
    return items.selectExpr(
        *lineage(run_date, run_ts),
        *_fields(
            cost_id="id",
            cost_name="name",
            person=last_text(cv, "person"),
            amount=last_number(cv, "numbers"),
            linked_subitem_id=link_id(cv, "board_relation1"),
            linked_subitem_name=link_name(cv, "board_relation1"),
        ),
        *_timestamps(),
    )


def extract_travel_costs(items: DataFrame, run_date: str, run_ts: str) -> DataFrame:
    """Travel-cost mapping (:404-482): + date, stato, pagata_con;
    link via board_relation39."""
    cv = "column_values"
    return items.selectExpr(
        *lineage(run_date, run_ts),
        *_fields(
            cost_id="id",
            cost_name="name",
            person=last_text(cv, "person"),
            amount=last_number(cv, "numbers"),
            date=last_date(cv, "date"),
            stato=last_text(cv, "status"),
            pagata_con=last_text(cv, "dropdown"),
            linked_subitem_id=link_id(cv, "board_relation39"),
            linked_subitem_name=link_name(cv, "board_relation39"),
        ),
        *_timestamps(),
    )


def extract_supplier_costs(items: DataFrame, run_date: str, run_ts: str) -> DataFrame:
    """Supplier-cost mapping (:484-560): imponibile, iva, tipologia,
    stato_ordine; link via board_relation."""
    cv = "column_values"
    return items.selectExpr(
        *lineage(run_date, run_ts),
        *_fields(
            cost_id="id",
            cost_name="name",
            imponibile=last_number(cv, "numbers"),
            tipologia=last_text(cv, "status"),
            stato_ordine=last_text(cv, "status_1"),
            iva=last_number(cv, "numbers8"),
            linked_subitem_id=link_id(cv, "board_relation"),
            linked_subitem_name=link_name(cv, "board_relation"),
        ),
        *_timestamps(),
    )
