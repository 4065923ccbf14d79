"""Ingestion/normalization layer: nested GraphQL documents → flat tables.

Re-expresses the reference's imperative transform loops
(monday_etl_automated.py:235-560) as pure Catalyst expressions — zero Python
UDFs, so the whole flatten+map+cast pipeline stays inside whole-stage codegen
and scales linearly with executors (each item row is independent; no shuffle
anywhere in this layer).

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

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .functions import parse_iso_timestamp

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
    """
    table = pa.Table.from_pylist(responses, schema=_MONDAY_ARROW)
    return spark.createDataFrame(table, schema=MONDAY_SCHEMA)


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
# reference's if/elif dispatch tables — SURVEY §2.9 "extractor registry")
# ---------------------------------------------------------------------------

_DATE_FMT = "yyyy-MM-dd"


def _cells(cv: Column, key: str, by_type: bool) -> Column:
    """Cells matching the column id (O-7) or column type (O-8), with the
    non-empty-text guard (O-10) applied."""
    tag = (lambda c: c["column"]["type"]) if by_type else (lambda c: c["id"])
    return F.filter(cv, lambda c: (tag(c) == key) & c["text"].isNotNull() & (c["text"] != ""))


def last_text(cv: Column, key: str, by_type: bool = False) -> Column:
    """Last non-empty text cell wins (reference loop overwrite order)."""
    return F.element_at(_cells(cv, key, by_type), -1)["text"]


def first_text(cv: Column, key: str, by_type: bool = False) -> Column:
    """O-9 first-match-wins (subitem status, :320-322). element_at preserves
    array order, so this is exactly the reference's 'only set if unset'."""
    return F.element_at(_cells(cv, key, by_type), 1)["text"]


def last_number(cv: Column, key: str, by_type: bool = False) -> Column:
    """F-1: last cell whose text casts to double; failed casts keep the
    previous value; default 0.0 (non-ANSI cast-to-null + coalesce)."""
    ok = F.filter(
        _cells(cv, key, by_type), lambda c: c["text"].cast("double").isNotNull()
    )
    return F.coalesce(F.element_at(ok, -1)["text"].cast("double"), F.lit(0.0))


def last_date(cv: Column, key: str, by_type: bool = False) -> Column:
    """F-2: last cell whose text parses as yyyy-MM-dd; null default."""
    ok = F.filter(
        _cells(cv, key, by_type),
        lambda c: F.to_date(c["text"], _DATE_FMT).isNotNull(),
    )
    return F.to_date(F.element_at(ok, -1)["text"], _DATE_FMT)


def timeline_pair(cv: Column, key: str = "timeline", by_type: bool = True):
    """F-4: 'start - end' destructure (ref :313-319). The reference guards
    on exactly 2 split parts, then assigns start BEFORE parsing end inside
    one try block — so a 'valid-start - garbage' cell updates start while
    keeping the previous end (partial assignment, replicated here: the two
    halves filter independently). 1-part and 3+-part cells are skipped
    entirely by the len==2 guard."""

    def start_ok(c: Column) -> Column:
        parts = F.split(c["text"], " - ")
        return (F.size(parts) == 2) & F.to_date(
            F.element_at(parts, 1), _DATE_FMT
        ).isNotNull()

    def end_ok(c: Column) -> Column:
        parts = F.split(c["text"], " - ")
        return (
            (F.size(parts) == 2)
            & F.to_date(F.element_at(parts, 1), _DATE_FMT).isNotNull()
            & F.to_date(F.element_at(parts, 2), _DATE_FMT).isNotNull()
        )

    cells = _cells(cv, key, by_type)
    start_parts = F.split(F.element_at(F.filter(cells, start_ok), -1)["text"], " - ")
    end_parts = F.split(F.element_at(F.filter(cells, end_ok), -1)["text"], " - ")
    start = F.to_date(F.element_at(start_parts, 1), _DATE_FMT)
    end = F.to_date(F.element_at(end_parts, 2), _DATE_FMT)
    return start, end


_LINK_PATH = "$.linkedPulseIds[0].linkedPulseId"


def link_name(cv: Column, key: str) -> Column:
    """O-20 companion: display text of the last non-empty link cell."""
    return last_text(cv, key)


def link_id(cv: Column, key: str) -> Column:
    """F-5: linked entity id from the value JSON of the last non-empty link
    cell whose JSON yields an id (malformed/{}/empty-list → null, :390-395)."""
    ok = F.filter(
        _cells(cv, key, False),
        lambda c: F.get_json_object(c["value"], _LINK_PATH).isNotNull(),
    )
    return F.get_json_object(F.element_at(ok, -1)["value"], _LINK_PATH)


def lineage(run_date: str, run_ts: str) -> list[Column]:
    """O-11 lineage stamps, injected as literals for deterministic re-runs
    (ref: self.extraction_date/timestamp, :52-53, :241-242)."""
    return [
        F.lit(run_date).cast("date").alias("extraction_date"),
        F.lit(run_ts).cast("timestamp").alias("extraction_timestamp"),
    ]


# ---------------------------------------------------------------------------
# Table extractors (target schemas: monday_etl_automated.py:68-146)
# ---------------------------------------------------------------------------


def extract_projects(items: DataFrame, run_date: str, run_ts: str) -> DataFrame:
    """EAV→wide by column id (O-7; dispatch table :257-277)."""
    cv = F.col("column_values")
    return items.select(
        *lineage(run_date, run_ts),
        F.col("id").alias("project_id"),
        F.col("name").alias("project_name"),
        last_text(cv, "person").alias("po"),
        last_date(cv, "date4").alias("data_avvio"),
        last_text(cv, "status__1").alias("var_non_var"),
        last_text(cv, "status_1").alias("circolo"),
        last_text(cv, "status0").alias("tipologia"),
        last_text(cv, "status1").alias("stato_pipeline"),
        last_text(cv, "status6").alias("aperto_chiuso"),
        parse_iso_timestamp(F.col("created_at")).alias("created_at"),
        parse_iso_timestamp(F.col("updated_at")).alias("updated_at"),
    )


def extract_subitems(items: DataFrame, run_date: str, run_ts: str) -> DataFrame:
    """O-6 child-array flatten with inherited parent FK (join-free
    denormalization, O-19 :288) + EAV→wide by column *type* (O-8 :300-322)."""
    s = items.select(
        F.col("id").alias("project_id"), F.explode("subitems").alias("s")
    )
    cv = F.col("s.column_values")
    start, end = timeline_pair(cv)
    return s.select(
        *lineage(run_date, run_ts),
        F.col("s.id").alias("subitem_id"),
        "project_id",
        F.col("s.name").alias("subitem_name"),
        last_text(cv, "person", by_type=True).alias("po"),
        start.alias("timeline_start"),
        end.alias("timeline_end"),
        last_number(cv, "numbers", by_type=True).alias("revenue_amount"),
        first_text(cv, "status", by_type=True).alias("status"),
        # declared in the target schema but never mapped by the reference
        F.lit(None).cast("string").alias("tipologia"),
        parse_iso_timestamp(F.col("s.created_at")).alias("created_at"),
        parse_iso_timestamp(F.col("s.updated_at")).alias("updated_at"),
    )


def extract_personnel_costs(items: DataFrame, run_date: str, run_ts: str) -> DataFrame:
    """Personnel-cost mapping (:335-402): person, amount, board_relation1."""
    cv = F.col("column_values")
    return items.select(
        *lineage(run_date, run_ts),
        F.col("id").alias("cost_id"),
        F.col("name").alias("cost_name"),
        last_text(cv, "person").alias("person"),
        last_number(cv, "numbers").alias("amount"),
        link_id(cv, "board_relation1").alias("linked_subitem_id"),
        link_name(cv, "board_relation1").alias("linked_subitem_name"),
        parse_iso_timestamp(F.col("created_at")).alias("created_at"),
        parse_iso_timestamp(F.col("updated_at")).alias("updated_at"),
    )


def extract_travel_costs(items: DataFrame, run_date: str, run_ts: str) -> DataFrame:
    """Travel-cost mapping (:404-482): + date, stato, pagata_con;
    link via board_relation39."""
    cv = F.col("column_values")
    return items.select(
        *lineage(run_date, run_ts),
        F.col("id").alias("cost_id"),
        F.col("name").alias("cost_name"),
        last_text(cv, "person").alias("person"),
        last_number(cv, "numbers").alias("amount"),
        last_date(cv, "date").alias("date"),
        last_text(cv, "status").alias("stato"),
        last_text(cv, "dropdown").alias("pagata_con"),
        link_id(cv, "board_relation39").alias("linked_subitem_id"),
        link_name(cv, "board_relation39").alias("linked_subitem_name"),
        parse_iso_timestamp(F.col("created_at")).alias("created_at"),
        parse_iso_timestamp(F.col("updated_at")).alias("updated_at"),
    )


def extract_supplier_costs(items: DataFrame, run_date: str, run_ts: str) -> DataFrame:
    """Supplier-cost mapping (:484-560): imponibile, iva, tipologia,
    stato_ordine; link via board_relation."""
    cv = F.col("column_values")
    return items.select(
        *lineage(run_date, run_ts),
        F.col("id").alias("cost_id"),
        F.col("name").alias("cost_name"),
        last_number(cv, "numbers").alias("imponibile"),
        last_text(cv, "status").alias("tipologia"),
        last_text(cv, "status_1").alias("stato_ordine"),
        last_number(cv, "numbers8").alias("iva"),
        link_id(cv, "board_relation").alias("linked_subitem_id"),
        link_name(cv, "board_relation").alias("linked_subitem_name"),
        parse_iso_timestamp(F.col("created_at")).alias("created_at"),
        parse_iso_timestamp(F.col("updated_at")).alias("updated_at"),
    )
